"""Similarity search over embedding columns (SURVEY.md §2.11 L3).

Two tiers:

- **Brute-force cosine top-k** — exact baseline. The query vector is a plain
  literal array; dot product via ``F.zip_with`` + ``F.aggregate`` (JVM
  expressions, no Python). At 100 TB this is a single narrow scan +
  TakeOrderedAndProject — no shuffle at all for a single query vector.
- **LSH-bucketed ANN** — random-hyperplane (signed projection) buckets.
  Probing only the query's bucket (+ optional multi-probe neighbors) turns
  top-k into a partition-pruned scan. Hyperplanes are generated from a seed
  driver-side (numpy), shipped as literals — deterministic.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_hiscox_spark.operators import segindex
from etl_hiscox_spark.smalldf import local_rows_df


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<numeric> columns, expression-only.

    NOTE: Spark 4 evaluates array lambdas interpreted per element, so this
    is for one-off projections (v1 norms etc.), NOT bulk scoring scans —
    those go through :func:`cosine_scores_pandas` / the Arrow tier
    (measured ~6× on the analogous shingle path, SCALING.md)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, v: s + v))


def cosine(a: Column, b: Column) -> Column:
    # try_divide: zero-norm vectors yield NULL (ANSI mode would raise on
    # 0/0); callers filter NULLs rather than letting them win rankings.
    return F.try_divide(dot(a, b), l2_norm(a) * l2_norm(b))


def _as_double_literal_array(vec: Sequence[float]) -> Column:
    # one py4j call for the whole literal (Spark 4 F.lit accepts lists);
    # the element-wise F.array(*[F.lit(v) …]) form paid dim+1 round trips
    # per query vector (r17)
    return F.lit([float(v) for v in vec])


def _stack_embeddings(embs: pd.Series, dim: int | None = None) -> np.ndarray:
    """Stack a Series of embedding cells into an (n, dim) float64 matrix,
    turning malformed cells into all-NaN rows instead of crashing the batch.

    ``np.asarray(None)`` raises TypeError and ``np.stack`` over ragged
    lengths raises ValueError — at 100 TB of scraped data one NULL/truncated
    embedding must not fail the whole job. NaN rows flow through BLAS to NaN
    scores, which every caller filters — the same contract the expression
    tier provided via ``try_divide`` NULLs. ``dim`` defaults to the first
    well-formed row's length (0 if none, yielding an (n, 0) matrix whose
    scores are all degenerate and filtered).
    """
    # Fast path: a clean batch (the overwhelmingly common case) stacks at
    # C speed exactly as before the guard existed — the per-row repair
    # loop below costs ~1.5× and must not tax healthy data.
    try:
        mat = np.stack([np.asarray(e, dtype=np.float64) for e in embs])
        if mat.ndim == 2 and mat.shape[1] > 0 and (dim is None or mat.shape[1] == dim):
            return mat
    except (TypeError, ValueError):
        pass
    cells: list[np.ndarray | None] = []
    for e in embs:
        if e is None:
            cells.append(None)
            continue
        a = np.asarray(e, dtype=np.float64)
        cells.append(a if a.ndim == 1 and a.size > 0 else None)
    if dim is None:
        dim = next((a.size for a in cells if a is not None), 0)
    mat = np.full((len(cells), dim), np.nan)
    for i, a in enumerate(cells):
        if a is not None and a.size == dim:
            mat[i] = a
    return mat


def cosine_scores_pandas(embedding_col: Column, query_vec: Sequence[float]) -> Column:
    """Cosine similarity of each row's embedding against ONE query vector,
    computed per Arrow batch as a single BLAS matvec (``mat @ q``).

    This is the default scoring path for bulk scans: the expression-tier
    :func:`cosine` runs Spark 4's array lambdas interpreted per element,
    which is ~6× slower on wide embedding columns; here each Arrow batch
    crosses the JVM↔Python boundary once and the dim-length loop runs in
    BLAS. Embeddings are widened to float64 (exact) before arithmetic so
    scores match the DECIMAL/DOUBLE oracle convention. Zero-norm, NULL,
    empty, and wrong-length rows all yield NaN (via
    :func:`_stack_embeddings`) — callers filter them exactly as with
    ``try_divide`` NULLs.
    """
    q = np.asarray(query_vec, dtype=np.float64)
    qn = float(np.linalg.norm(q))

    @F.pandas_udf("double")
    def _score(embs: pd.Series) -> pd.Series:
        if not len(embs):
            return pd.Series([], dtype="float64")
        mat = _stack_embeddings(embs, dim=q.size)
        denom = np.linalg.norm(mat, axis=1) * qn
        dots = mat @ q
        with np.errstate(divide="ignore", invalid="ignore"):
            out = np.where(denom > 0, dots / denom, np.nan)
        return pd.Series(out)

    # asNondeterministic stops Catalyst duplicating the call when the score
    # feeds both a Filter (NaN guard) and a Project — without it the plan
    # carries TWO ArrowEvalPython nodes and every row is scored twice.
    # (The function IS deterministic; the marker only disables the
    # clone/pushdown rewrites. Plan-pinned in tests/test_plans.py.)
    return _score.asNondeterministic()(embedding_col)


def cosine_topk(
    df: DataFrame,
    embedding_col: str,
    id_col: str,
    query_vec: Sequence[float],
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k for one query vector.

    Embeddings are cast to double element-wise before arithmetic so scores
    are reproducible across engines. Output: (id, cosine_sim, rank) ordered
    by similarity desc with id as deterministic tiebreak. Executes as
    scan → project → TakeOrderedAndProject (no shuffle).
    """
    scored = df.select(
        F.col(id_col),
        cosine_scores_pandas(F.col(embedding_col), query_vec).alias("cosine_sim"),
    )
    # Zero-norm, NULL, empty, and wrong-length embeddings all score NaN
    # (guarded stack in cosine_scores_pandas), and Spark sorts NaN above
    # every double in descending order — drop them instead of letting a
    # garbage row win rank 1.
    scored = scored.filter(F.col("cosine_sim").isNotNull() & ~F.isnan("cosine_sim"))
    # limit(k) first => TakeOrderedAndProject on the scan; the rank window
    # then runs over k rows only (single tiny task).
    topk = scored.orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc()).limit(k)
    w = Window.orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc())
    return topk.select(id_col, "cosine_sim", F.row_number().over(w).alias("rank"))


def _round6_engine_parity(x: float) -> float:
    """ROUND(x, 6) exactly as Spark's F.round AND DuckDB's round() compute
    it for doubles: HALF_UP on the SHORTEST DECIMAL REPR of the value
    (java BigDecimal.valueOf / duckdb both go through the decimal string),
    NOT on the exact binary expansion — 0.1234565 (binary ~...64999) rounds
    UP to 0.123457 in both engines. Parity pinned over 20k random doubles
    vs DuckDB (2k of them also through Spark's F.round) in
    tests/test_dedup_similarity.py."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(float(x))).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))


def mmr_topk(
    df: DataFrame,
    embedding_col: str,
    id_col: str,
    query_vec: Sequence[float],
    k: int = 10,
    shortlist: int = 50,
    lam: float = 0.7,
    mu: float = 0.3,
) -> DataFrame:
    """Maximal Marginal Relevance: top-k that balances query relevance
    against redundancy — the diversified selection step of retrieval /
    data-curation pipelines (dedup-aware example picking).

    Two stages with an explicit scale split:

    1. DISTRIBUTED shortlist — exact cosine against the full corpus,
       ordered by (round(sim, 6) DESC, id): scan → project →
       TakeOrderedAndProject, no shuffle, any corpus size.
    2. BOUNDED re-rank — the classic greedy loop over the ``shortlist``
       rows only (collected; ``shortlist`` × dim doubles — a few KB, the
       same bounded-collect class as watermark scalars). Each step picks
       argmax of ``lam·rel − mu·max_sim_to_selected``; step 1 is argmax
       relevance (empty selected set scores 0 redundancy). ``mu`` is an
       EXPLICIT literal, never derived as ``1 − lam``: the IEEE double
       ``1.0 - 0.7`` is 0.30000000000000004, which is NOT the SQL literal
       ``0.3`` — deriving it would desync every objective from a SQL
       replay by 4e-17 · redundancy, occasionally across a rounding edge.

    Engine-portable determinism: relevance and pairwise similarities are
    rounded to 6 dp (``_round6_engine_parity``) BEFORE any comparison and
    the objective re-rounded after the affine combine, with id as the
    tiebreak — so ulp-level float noise can never flip a greedy choice
    against the SQL replay oracle (the chained-CTE unroll pattern, same
    family as the BPE training-loop replay).

    Output: (id, mmr_rank 1..k, relevance, objective).
    """
    if k > shortlist:
        raise ValueError(f"k ({k}) must be <= shortlist ({shortlist})")
    # Result schema carries the caller's actual id type (string doc ids,
    # ints, …) — hardcoding `long` + int() casts would crash or corrupt
    # non-long ids despite the generic signature (ADVICE r9).
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField(id_col, df.schema[id_col].dataType, True),
            StructField("mmr_rank", IntegerType(), True),
            StructField("relevance", DoubleType(), True),
            StructField("objective", DoubleType(), True),
        ]
    )
    scored = df.select(
        F.col(id_col),
        F.col(embedding_col).alias("__emb"),
        F.round(
            cosine_scores_pandas(F.col(embedding_col), query_vec), 6
        ).alias("__rel"),
    )
    scored = scored.filter(F.col("__rel").isNotNull() & ~F.isnan("__rel"))
    short = (
        scored.orderBy(F.col("__rel").desc(), F.col(id_col).asc())
        .limit(shortlist)
        .collect()
    )
    if not short:
        return local_rows_df(df.sparkSession, [], out_schema)
    ids = [r[id_col] for r in short]
    rel = {r[id_col]: float(r["__rel"]) for r in short}
    vecs = {
        r[id_col]: np.asarray(r["__emb"], dtype=np.float64) for r in short
    }
    norms = {i: float(np.sqrt(np.dot(v, v))) for i, v in vecs.items()}

    def sim(a, b) -> float:
        return _round6_engine_parity(
            float(np.dot(vecs[a], vecs[b])) / (norms[a] * norms[b])
        )

    selected: list[tuple[object, float]] = []
    remaining = list(ids)
    while remaining and len(selected) < k:
        best_id, best_obj = None, None
        for i in remaining:
            redundancy = max((sim(i, s) for s, _ in selected), default=0.0)
            obj = _round6_engine_parity(lam * rel[i] - mu * redundancy)
            if best_obj is None or obj > best_obj or (obj == best_obj and i < best_id):
                best_id, best_obj = i, obj
        selected.append((best_id, best_obj))
        remaining.remove(best_id)
    return local_rows_df(
        df.sparkSession,
        [
            (i, rank + 1, rel[i], obj)
            for rank, (i, obj) in enumerate(selected)
        ],
        out_schema,
    )


def random_hyperplanes(dim: int, n_planes: int = 16, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def lsh_bucket(embedding_col: Column, planes: np.ndarray) -> Column:
    """Signed-random-projection bucket id (long) for an embedding column.

    bit_i = 1 iff e · plane_i >= 0; bucket = packed bits. Cosine-similar
    vectors collide with probability 1 - θ/π per bit. All n_planes
    projections are ONE BLAS matmul per Arrow batch (``mat @ planes.T``) —
    the expression form would run n_planes interpreted array folds per row.
    NULL/empty/wrong-length embeddings land in bucket -1 (never a packed-bit
    value) so they can't collide with a real bucket or crash the batch.
    """
    P = np.asarray(planes, dtype=np.float64)
    if P.shape[0] > 62:
        raise ValueError(f"at most 62 hyperplanes fit a signed long bucket, got {P.shape[0]}")
    weights = (1 << np.arange(P.shape[0])).astype(np.int64)

    @F.pandas_udf("long")
    def _bucket(embs: pd.Series) -> pd.Series:
        if not len(embs):
            return pd.Series([], dtype="int64")
        mat = _stack_embeddings(embs, dim=P.shape[1])
        valid = ~np.isnan(mat).any(axis=1)
        bits = np.nan_to_num(mat) @ P.T >= 0  # (batch, n_planes) sign bits
        return pd.Series(np.where(valid, bits @ weights, -1).astype(np.int64))

    return _bucket(embedding_col)


def ann_topk_lsh(
    df: DataFrame,
    embedding_col: str,
    id_col: str,
    query_vec: Sequence[float],
    k: int = 10,
    n_planes: int = 12,
    seed: int = 42,
    multiprobe: int = 1,
) -> DataFrame:
    """Approximate top-k: score only rows in the query's LSH bucket
    (plus ``multiprobe`` single-bit-flip neighbor buckets).

    At scale the table is written partitioned/bucketed by this bucket id,
    making the probe a partition-pruned read of ~n/2^n_planes rows instead
    of a full scan.
    """
    dim = len(query_vec)
    planes = random_hyperplanes(dim, n_planes, seed)
    qv = np.asarray(query_vec, dtype=float)
    qbits = 0
    for i, plane in enumerate(planes):
        if float(qv @ plane) >= 0:
            qbits |= 1 << i
    probe_buckets = [qbits]
    if multiprobe > 0:
        # flip the bits whose hyperplane margin is smallest for the query
        margins = sorted(range(n_planes), key=lambda i: abs(float(qv @ planes[i])))
        for i in margins[:multiprobe]:
            probe_buckets.append(qbits ^ (1 << i))
    bucketed = df.withColumn("__bucket", lsh_bucket(F.col(embedding_col), planes))
    candidates = bucketed.filter(F.col("__bucket").isin(probe_buckets))
    return cosine_topk(candidates, embedding_col, id_col, query_vec, k)


def ivf_index(
    df: DataFrame,
    embedding_col: str,
    id_col: str,
    n_clusters: int = 16,
    seed: int = 42,
    train_fraction: float = 1.0,
    max_iter: int | None = None,
) -> tuple[DataFrame, np.ndarray]:
    """IVF (inverted-file) index: k-means centroids + cluster assignment.

    Returns (assigned_df with __cluster column, centroid matrix). At scale
    the assigned table is written ``partitionBy("__cluster")`` so a probe
    reads only n_probe/n_clusters of the data — partition pruning does the
    work, no custom index structure.

    ``train_fraction < 1.0`` fits k-means on a seeded sample (the 100 TB
    path: centroid quality converges long before the full corpus is seen,
    so training on ~1-10% avoids iterating k-means over every row);
    ASSIGNMENT is always a single full pass with broadcast centroids —
    every row gets a cluster regardless of the training sample.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vdf = df.withColumn(
        "__vec", array_to_vector(F.transform(F.col(embedding_col), lambda x: x.cast("double")))
    )
    train = vdf if train_fraction >= 1.0 else vdf.sample(train_fraction, seed=seed)
    km = KMeans(k=n_clusters, seed=seed, featuresCol="__vec", predictionCol="__cluster")
    if max_iter is not None:
        # centroid quality saturates in a handful of iterations; callers
        # whose OUTPUT does not depend on centroid placement (full-probe
        # index lifecycles) cap the fit instead of paying the default 20
        km = km.setMaxIter(max_iter)
    model = km.fit(train)
    assigned = model.transform(vdf).drop("__vec")
    centroids = np.vstack([np.asarray(c) for c in model.clusterCenters()])
    return assigned, centroids


def ivf_topk(
    df: DataFrame,
    embedding_col: str,
    id_col: str,
    query_vec: Sequence[float],
    k: int = 10,
    n_clusters: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    train_fraction: float = 1.0,
) -> DataFrame:
    """IVF approximate top-k: score only the n_probe clusters whose
    centroids are nearest the query (cosine). Recall grows with n_probe;
    n_probe = n_clusters degrades gracefully to exact search."""
    assigned, centroids = ivf_index(df, embedding_col, id_col, n_clusters, seed, train_fraction)
    q = np.asarray(query_vec, dtype=float)
    qn = q / np.linalg.norm(q)
    cn = centroids / np.clip(np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12, None)
    probe = np.argsort(-(cn @ qn))[:n_probe].tolist()
    candidates = assigned.filter(F.col("__cluster").isin([int(p) for p in probe]))
    return cosine_topk(candidates, embedding_col, id_col, query_vec, k)


def _centroid_distance_grid(
    C: np.ndarray, embs: pd.Series
) -> tuple[np.ndarray, np.ndarray]:
    """(valid mask, squared-Euclidean distance grid) of one Arrow batch
    against the centroid matrix — THE shared kernel of cluster assignment
    (argmin over the grid) and the drift diagnostic (min over the grid):
    a single implementation guarantees reported drift distances can never
    disagree with the distances assignment actually used. One BLAS matmul
    per batch; malformed rows (NULL / wrong-dim / NaN) come back invalid
    rather than crashing the batch."""
    c_sq = (C * C).sum(axis=1)
    mat = _stack_embeddings(embs, dim=C.shape[1])
    valid = ~np.isnan(mat).any(axis=1)
    m = np.nan_to_num(mat)
    d = (m * m).sum(axis=1, keepdims=True) - 2.0 * (m @ C.T) + c_sq
    return valid, d


def _nearest_centroid_col(C: np.ndarray, embedding_col: Column) -> Column:
    """Cluster id of each embedding's nearest centroid (squared Euclidean,
    first index on a tie — KMeansModel.transform parity, test-pinned).
    NULL / wrong-dim / NaN embeddings map to -1 so callers can reject
    them loudly before anything lands on disk."""

    @F.pandas_udf("int")
    def assign(embs: pd.Series) -> pd.Series:
        valid, d = _centroid_distance_grid(C, embs)
        return pd.Series(np.where(valid, d.argmin(axis=1), -1).astype(np.int32))

    return assign(embedding_col)


def write_ivf_index(
    df: DataFrame,
    path: str,
    embedding_col: str,
    id_col: str,
    n_clusters: int = 16,
    seed: int = 42,
    train_fraction: float = 1.0,
    max_iter: int | None = None,
    centroids: np.ndarray | None = None,
    quantize: bool = False,
) -> np.ndarray:
    """Materialize the IVF index as a cluster-partitioned parquet table;
    returns the centroid matrix and ALSO persists it inside the index
    (``_centroids`` — the leading underscore hides it from the
    partitioned data scan), so probes and appends read their geometry
    FROM the index, never from the caller — the same params-travel-with-
    the-data rule as the minhash index meta.

    Layout: generation-pointer segments (:mod:`operators.segindex`). The
    build stages one complete segment — partitions first, ``_centroids``
    LAST as its commit record (:func:`_stage_ivf_segment`) — and an atomic
    ``_gen_log`` pointer commit makes it live; compact/erase/rebuild then
    commit new segments the same way, so the full maintenance lifecycle
    runs on any filesystem.

    ``centroids`` pins EXPLICIT geometry instead of fitting k-means — the
    rebuild-preserving-geometry path (re-materialize a fragmented or
    schema-migrated index without moving a single vector across clusters)
    and the deterministic-geometry path the drift diagnostic's SQL twin
    replays literal-for-literal. Explicit-geometry builds reject
    malformed embeddings loudly, exactly like the append path (the
    k-means branch throws on them inside ML's transform).

    This is the 100 TB deployment form of :func:`ivf_topk`: the one-time
    k-means assignment is written ``partitionBy(__cluster)``, so every
    subsequent probe is a PARTITION-PRUNED read of n_probe/n_clusters of
    the data — the layout does the indexing, no server, no side-structure.

    ``quantize=True`` ALSO stores per-row int8 codes + scale
    (``__codes`` / ``__qscale``, the ``vectors.quantize_int8``
    representation) inside the cluster partitions. Parquet is columnar,
    so :func:`ivf_probe_topk_quantized`'s candidate scan then reads the
    codes column only — ~4x less IO than the float32 embeddings on the
    probe path — while the float column stays in the same row for the
    exact rerank fetch. Appends inherit the layout (the ``_centroids``
    record carries the flag, and the append quantizes the batch with the
    same expression); compaction/erase/rebuild carry the columns through
    as ordinary payload.
    """

    def _stage(_head, target: str) -> np.ndarray:
        if centroids is not None:
            C = np.asarray(centroids, dtype=np.float64)
            assigned = _assign_to_centroids(df, C, quantize, embedding_col)
        else:
            assigned, C = ivf_index(
                df, embedding_col, id_col, n_clusters, seed, train_fraction, max_iter
            )
            assigned = _with_codes(assigned, quantize, embedding_col)
        _stage_ivf_segment(assigned, target, C, quantize, "write_ivf_index")
        return C

    return segindex.build(df.sparkSession, path, _stage)


def _write_ivf_partitions(assigned: DataFrame, path: str) -> None:
    # Cluster-wise pre-shuffle before the partitioned write: without it
    # every write task holds rows of every cluster and emits one file per
    # (task, cluster) — shuffle_partitions × n_clusters KB-scale files on
    # day one, i.e. the fragmentation compact_ivf_index exists to repair,
    # created AT BUILD TIME (measured: the r10 erase lifecycle spent more
    # time listing/reading the 512-file build than probing it). One
    # exchange of the assigned frame; at 100 TB clusters larger than a
    # healthy task add a size salt (compact_ivf_index's mechanism).
    # Targets are always fresh segment directories, so the write refuses
    # an existing path instead of overwriting it.
    assigned.repartition("__cluster").write.partitionBy("__cluster").mode(
        "error"
    ).parquet(path)


def _write_ivf_centroids(
    spark, path: str, centroids: np.ndarray, quantized: bool = False
) -> None:
    """The ``_centroids`` commit record of an IVF segment at ``path``.
    ``quantized`` rides the record (r11 review): the append path needs
    "does this layout store __codes?" in O(1), without a schema inference
    of the whole index per append. The record survives every maintenance
    op by construction (compact and erase carry it into their new
    segment, rebuild rewrites it), so the flag can never drift from the
    layout."""
    segindex.write_record(_IVF, path, (centroids, quantized))


def _encode_centroids(record: tuple[np.ndarray, bool]):
    import pyarrow as pa

    C, quantized = record
    return pa.table(
        {
            "cluster": pa.array(range(len(C)), pa.int32()),
            "centroid": pa.array([[float(x) for x in c] for c in C], pa.list_(pa.float64())),
            "quantized": pa.array([bool(quantized)] * len(C), pa.bool_()),
        }
    )


def _decode_centroids(table) -> tuple[np.ndarray, bool]:
    rows = sorted(table.to_pylist(), key=lambda r: r["cluster"])
    C = np.vstack([np.asarray(r["centroid"], dtype=np.float64) for r in rows])
    # pre-r11 records carry no flag: their layouts store no codes
    return C, bool(rows[0].get("quantized", False))


def _read_ivf_record(spark, path: str, resolved: bool) -> tuple[np.ndarray, bool]:
    if not resolved:  # callers that already resolved skip the re-stat (r12)
        from etl_hiscox_spark.sources.genlog import live_index_paths

        # the GEOMETRY segment (segments[0]) carries the authoritative
        # centroid record; append deltas carry a validated copy (r13)
        path = live_index_paths(spark, path)[0]
    return segindex.read_record(_IVF, path)


def load_ivf_centroids(spark, path: str, resolved: bool = False) -> np.ndarray:
    """Centroid matrix persisted by :func:`write_ivf_index`. Missing or
    empty centroids mean an interrupted index write — fail loudly, never
    probe with default/stale geometry."""
    return _read_ivf_record(spark, path, resolved)[0]


def ivf_index_is_quantized(spark, path: str, resolved: bool = False) -> bool:
    """Whether the index layout stores int8 codes — read from the
    ``_centroids`` commit record in O(1), never inferred from the data
    files."""
    return _read_ivf_record(spark, path, resolved)[1]


def _read_ivf_segments(spark, paths: list[str]) -> DataFrame:
    """One frame over every live segment of an IVF index. Spark refuses a
    single multi-root partitioned read ([CONFLICTING_DIRECTORY_STRUCTURES]
    — each ``gen-*`` segment is its own partition tree), so segments read
    separately and union — partition pruning on ``__cluster`` pushes into
    EACH branch's scan, exactly as it does for the single-segment plan.

    No read infers its schema (a Spark job per call, r18 guide §6): the
    first segment is pinned to its footer schema, and partition discovery
    appends ``__cluster`` as inference would; later segments pin that
    frame's schema, ``__cluster`` included. Appends keep the columns equal
    (:func:`append_to_ivf_index`), and a mismatched segment fails loudly
    at scan time, never silently casts."""
    from etl_hiscox_spark.sources.listing import footer_schema

    out = spark.read.schema(footer_schema(paths[0])).parquet(paths[0])
    for p in paths[1:]:
        out = out.unionByName(spark.read.schema(out.schema).parquet(p))
    return out


def _with_codes(assigned: DataFrame, quantized: bool, embedding_col: str) -> DataFrame:
    """``assigned`` plus the int8 codes columns when the layout stores
    them (an appended row without ``__codes`` would be invisible to the
    codes-only probe scan)."""
    if not quantized:
        return assigned
    from etl_hiscox_spark.operators.vectors import quantize_int8

    codes, scale = quantize_int8(F.col(embedding_col))
    return assigned.withColumn("__codes", codes).withColumn("__qscale", scale)


def _assign_to_centroids(
    df: DataFrame, C: np.ndarray, quantized: bool, embedding_col: str
) -> DataFrame:
    """Nearest pinned centroid per row (plus the codes columns of a
    quantized layout) — the assignment of explicit-geometry builds and of
    every append."""
    return _with_codes(
        df.withColumn("__cluster", _nearest_centroid_col(C, F.col(embedding_col))),
        quantized,
        embedding_col,
    )


def _stage_ivf_segment(
    assigned: DataFrame, target: str, C: np.ndarray, quantized: bool, op: str
) -> None:
    """Write one complete IVF segment at a fresh ``target``: the
    ``__cluster=`` partitions with the malformed-row gate riding the write
    action itself (``observe`` — one pass, one action, r17 guide §5), then
    the ``_centroids`` commit record LAST. assign() marks NULL / wrong-dim
    / NaN embeddings as -1, and a written ``__cluster=-1`` partition is
    read by no probe — stored-but-unsearchable forever, silently. A bad
    batch therefore raises AFTER the partitions land but BEFORE the
    record: a record-less stage no reader trusts and vacuum reclaims. The
    one staging write behind build, append and rebuild."""
    from pyspark.sql import Observation

    obs = Observation()
    _write_ivf_partitions(
        assigned.observe(
            obs, F.sum((F.col("__cluster") < 0).cast("long")).alias("bad")
        ),
        target,
    )
    bad = obs.get["bad"] or 0
    if bad:
        raise ValueError(
            f"{op}: {bad} embedding(s) are NULL, empty, NaN, or not "
            f"{C.shape[1]}-dimensional — repair or drop them before "
            "indexing (a written -1 partition would be invisible to "
            "every probe)"
        )
    _write_ivf_centroids(assigned.sparkSession, target, C, quantized=quantized)


def append_to_ivf_index(
    df: DataFrame,
    path: str,
    embedding_col: str,
    id_col: str,
    txn: tuple[str, int] | None = None,
) -> None:
    """Incremental ingest for a written IVF index: assign NEW vectors to
    the EXISTING centroids (read from the index — appending never
    re-trains; centroid geometry is pinned at build time, exactly like
    the minhash index's banding parameters) and append them to their
    cluster partitions.

    Assignment replicates Spark ML ``KMeansModel.transform``: nearest
    centroid by squared Euclidean distance, first index on a tie
    (parity pinned in tests against model.predict on the same vectors).
    One Arrow batch pass over the new rows; the write touches only the
    partitions the new vectors land in. At 100 TB the daily embedding
    batch appends in O(batch), the historical corpus is never re-read —
    re-clustering (centroid drift repair) is an explicit rebuild, not a
    side effect.

    The batch stages as a self-contained DELTA segment (its ``__cluster=``
    partitions plus a copy of the geometry record) and commits through
    :func:`segindex.append`. A lost pointer race re-commits the same
    delta; a REBUILD winning mid-append makes the delta's assignments
    stale (:class:`genlog.GeometryChanged`), so it re-stages against the
    new centroids.

    ``txn=(app_id, batch_id)`` makes the append EXACTLY-ONCE under
    streaming redelivery (:func:`genlog.append_segment`'s watermark
    ledger).
    """
    from etl_hiscox_spark.sources import genlog

    spark = df.sparkSession

    def _same_geometry(staged, current) -> None:
        if current.record.get("geometry_id") != staged.record.get("geometry_id"):
            raise genlog.GeometryChanged(
                "IVF geometry changed mid-append (a rebuild "
                "committed) — the staged delta's cluster "
                "assignments are stale; re-staging"
            )

    def _stage_delta(h, target: str) -> None:
        from etl_hiscox_spark.sources.listing import footer_schema

        C, quantized = segindex.read_record(_IVF, h.paths[0])
        assigned = _assign_to_centroids(df, C, quantized, embedding_col)
        # every segment read pins one schema (_read_ivf_segments): a
        # missing column would read back NULL, an extra one would vanish
        have = set(footer_schema(h.paths).fieldNames()) - {"__cluster"}
        got = set(assigned.columns) - {"__cluster"}
        if got != have:
            raise ValueError(
                f"append_to_ivf_index: the batch's columns differ from the "
                f"index's (missing {sorted(have - got)}, extra "
                f"{sorted(got - have)}) — select the index's columns first"
            )
        _stage_ivf_segment(assigned, target, C, quantized, "append_to_ivf_index")

    segindex.append(spark, path, _stage_delta, _same_geometry, txn)


# The IVF answers to the segment protocol (operators/segindex): the
# ``__cluster=`` partitions sit at the segment root, the erase key is the
# caller's id column, and ``_centroids`` is the commit record.
_IVF = segindex.SegmentKind(
    data_dir=None,
    key_col=None,
    write_data=_write_ivf_partitions,
    read_data=_read_ivf_segments,
    record_dir="_centroids",
    encode=_encode_centroids,
    decode=_decode_centroids,
    missing=(
        "IVF index at {segment!r} has no readable centroids (an index "
        "write may have been interrupted — centroids are written last "
        "as the commit record). Rebuild with write_ivf_index."
    ),
)


def _cluster_files(segs: list[str]) -> dict[int, list]:
    """The data files of every ``__cluster=`` partition of ``segs``, by
    cluster: one recursive LIST per segment (:func:`listing.data_files`).
    Files outside a partition (a fully-erased placeholder) are not
    counted."""
    from etl_hiscox_spark.sources.listing import data_files

    by_cluster: dict[int, list] = {}
    for seg in segs:
        for f in data_files(seg):
            part = next((c for c in f.path.split("/") if c.startswith("__cluster=")), None)
            if part is not None:
                by_cluster.setdefault(int(part.split("=", 1)[1]), []).append(f)
    return by_cluster


def _merge_ivf_segments(spark, segs: list[str], target: str, target_file_mb: int) -> int | None:
    """Rewrite the union of ``segs`` into ``target`` as ~target-sized files
    per cluster; returns the file count, or None for a head with no
    ``__cluster=`` partitions (the fully-erased placeholder — scheduled
    compaction landing on it must be a no-op, not an error). Each
    cluster's size sums its bytes across every segment."""
    from etl_hiscox_spark.sources.listing import data_files

    by_cluster = _cluster_files(segs)
    if not by_cluster:
        return None
    step = target_file_mb * 1024 * 1024
    n_files = {c: max(1, -(-sum(f.size for f in fs) // step)) for c, fs in by_cluster.items()}
    df = _read_ivf_segments(spark, segs)
    data_cols = [c for c in df.columns if c != "__cluster"]
    n_map = F.create_map(*[F.lit(x) for item in n_files.items() for x in item])
    salt = F.pmod(F.hash(*[F.col(c) for c in data_cols]), n_map[F.col("__cluster")])
    (
        df.repartition(sum(n_files.values()), F.col("__cluster"), salt)
        .write.partitionBy("__cluster")
        .mode("error")
        .option("partitionOverwriteMode", "static")
        .parquet(target)
    )
    return len(data_files(target))


def compact_ivf_index(spark, path: str, target_file_mb: int = 256) -> int:
    """Merge every live segment of an IVF index into ONE segment of
    ~target-sized files per cluster (:func:`segindex.compact`).

    :func:`append_to_ivf_index` adds one delta segment per batch, with
    ONE parquet file per touched partition — at daily-ingest cadence the
    index fragments into thousands of KB-scale files and every probe pays
    an open/LIST tax (VERDICT r9). Compaction rewrites each ``__cluster``
    partition into ``ceil(bytes / target)`` files (1 at typical partition
    sizes; rows salted ``hash(payload) % n_files[cluster]``, so each
    output file is a deterministic subset) while preserving BOTH index
    contracts: the ``partitionBy(__cluster)`` layout (partition pruning
    untouched) and the ``_centroids`` commit record (geometry is pinned
    at build time — maintenance must never drift it). Probe results are
    therefore equal by construction; pinned by test and by the
    l3_ivf_compact_probe oracle. A fully-erased placeholder head has
    nothing to merge: no commit, returns 0. Returns the post-compaction
    data file count.
    """
    return segindex.compact(
        spark, path, _IVF,
        lambda h, target: _merge_ivf_segments(spark, h.paths, target, target_file_mb),
    )


def erase_from_ivf_index(spark, path: str, keys: DataFrame, id_col: str) -> int:
    """Right-to-be-forgotten erasure INSIDE the IVF index layout: drop
    every indexed vector whose ``id_col`` appears in ``keys``; returns
    the number of rows erased.

    Table-level erasure (``sources/writers.erase_keys``) leaves index
    layouts retaining the erased payload — an index IS a copy of the
    data, so GDPR reaches it too. The erase runs under
    :mod:`operators.segindex`'s segment protocol: only the segments it
    hits are rewritten, the centroid geometry is carried unchanged (erasure
    is maintenance, it must never drift the index contract), and one
    pointer commit publishes the result. ``keys`` broadcasts (erasure
    requests are tiny next to the index).
    """
    return segindex.erase(spark, path, _IVF, keys, id_col)


def rebuild_ivf_index(
    spark,
    path: str,
    embedding_col: str,
    id_col: str,
    n_clusters: int | None = None,
    seed: int = 42,
    train_fraction: float = 1.0,
    max_iter: int | None = None,
) -> np.ndarray:
    """Retrain a LIVE index's centroid geometry on its CURRENT corpus and
    re-materialize the cluster layout — the repair :func:`ivf_centroid_drift`
    triggers (documented rule: rebuild when a batch's mean nearest-centroid
    distance exceeds ~1.25x the indexed mean). Appends pin geometry forever
    by design, so after enough distribution shift the partitions stop
    separating the data and probe pruning quality decays; rebuilding
    re-fits k-means (sample-trainable via ``train_fraction``, the 100 TB
    path) over everything currently indexed and reassigns every row.
    VERDICT r10 item 1 — previously the diagnostic said WHEN to rebuild
    but the lifecycle had no HOW that kept the commit protocol.

    The rebuilt index contains exactly the live rows (payload preserved
    row-for-row; only ``__cluster`` labels change) with a fresh
    ``_centroids`` commit record; ``n_clusters=None`` keeps the current
    cluster count. Returns the new centroid matrix.

    The complete new index stages as one fresh segment and a single
    pointer commit under a new geometry epoch makes it live
    (:func:`segindex.rebuild`); a crash before the commit leaves the old
    head and its geometry serving, and the orphaned stage is
    vacuum-reclaimable.
    """

    return segindex.rebuild(
        spark, path,
        _retrain_stage(spark, embedding_col, id_col, n_clusters, seed, train_fraction, max_iter),
    )


def _retrain_stage(
    spark, embedding_col: str, id_col: str, n_clusters: int | None,
    seed: int, train_fraction: float, max_iter: int | None,
) -> Callable[[segindex.Head, str], np.ndarray]:
    """The stage callback :func:`rebuild_ivf_index` hands to
    :func:`segindex.rebuild`: ``(head, target)`` re-fits k-means over the
    head's live rows and stages the reassigned index at ``target``;
    returns the new centroid matrix."""

    def _retrain(h: segindex.Head, target: str) -> np.ndarray:
        old_C = load_ivf_centroids(spark, h.paths[0], resolved=True)
        k = int(n_clusters) if n_clusters is not None else int(old_C.shape[0])
        # k-means|| seeds from per-partition samples, so the fit reads the
        # live rows in id order: the same rows fit the same centroids
        # however the head is split into segments (build + appends, or
        # compacted). Persisted, so the fit, its summary and the staged
        # write sort once.
        live_df = (
            _read_ivf_segments(spark, h.paths).drop("__cluster").orderBy(id_col).persist()
        )
        try:
            assigned, C = ivf_index(
                live_df, embedding_col, id_col, k, seed, train_fraction, max_iter
            )
            # quantized layouts survive a rebuild: the __codes/__qscale
            # columns ride through ivf_index as ordinary payload, so the
            # staged commit record must carry the same flag for appends
            quantized = "__codes" in live_df.columns
            _stage_ivf_segment(assigned, target, C, quantized, "rebuild_ivf_index")
        finally:
            live_df.unpersist()
        return C

    return _retrain


def ivf_fragmentation_stats(spark, path: str) -> DataFrame:
    """Observability twin of :func:`compact_ivf_index` — per-cluster file
    count and bytes of a written IVF index, so the compaction trigger is
    a queryable fact instead of an operator's guess (the same
    make-the-maintenance-signal-visible rule as
    :func:`ivf_centroid_drift` for rebuilds). Listing goes through
    ``pyarrow.fs`` on the driver (:func:`listing.data_files`), as every
    index op's does, so local, HDFS and S3 roots list alike: one recursive
    LIST per live segment, n_clusters rows.

    Output: (cluster, n_files, total_bytes, avg_file_bytes) ordered by
    cluster. Rule of thumb documented on the compactor: compact when
    n_files per partition ≫ ceil(total_bytes / target_file_mb).
    """
    from etl_hiscox_spark.sources.genlog import live_index_paths

    paths = live_index_paths(spark, path)
    load_ivf_centroids(spark, paths[0], resolved=True)  # loud on an uncommitted index
    by_cluster = _cluster_files(paths)  # every live segment (OCC append deltas, r13)
    if not by_cluster:
        raise ValueError(f"no __cluster= partitions under {path!r} — not a written IVF index")
    rows = []
    for c, fs in sorted(by_cluster.items()):
        total = sum(f.size for f in fs)
        rows.append((c, len(fs), total, total / len(fs)))
    return local_rows_df(
        spark, rows, "cluster int, n_files long, total_bytes long, avg_file_bytes double"
    )


def ivf_centroid_drift(
    spark,
    path: str,
    batch_df: DataFrame,
    embedding_col: str,
    index_fraction: float = 1.0,
    seed: int = 42,
) -> DataFrame:
    """Distribution-drift diagnostic for an IVF index's pinned geometry.

    :func:`append_to_ivf_index` assigns every batch to the BUILD-TIME
    centroids forever — correct by design (re-clustering is an explicit
    rebuild), but a shifted embedding distribution silently degrades how
    well those centroids partition the data, and with it probe pruning
    quality (VERDICT r9). This measures that drift observably: for the
    indexed corpus and for ``batch_df``, the mean / median / p90 distance
    of each vector to its NEAREST pinned centroid. A batch whose
    assignment distances sit well above the build-time distribution is
    the rebuild trigger — documented threshold: rebuild when the batch
    mean exceeds ~1.25× the indexed mean (a 25% inflation of mean
    quantization error roughly halves the recall-per-probe budget on
    isotropic data; tune per corpus).

    Engine-portable determinism: per-row distances are rounded to 6 dp
    BEFORE aggregating (so both engines aggregate identical doubles —
    ulp-level drift between numpy's BLAS dot and a SQL replay's
    sequential sum can never reach the aggregates), and the aggregates
    re-rounded to 6 dp. One Arrow pass per side, no shuffle beyond the
    2-group aggregate.

    Malformed rows (NULL / wrong-dim / NaN embeddings) are NOT silently
    dropped — a broken upstream embedder is the most likely real cause of
    "drift", so each side reports its ``n_malformed`` count (r10 review);
    the distance stats cover the well-formed rows.

    ``index_fraction < 1.0`` scores a seeded SAMPLE of the indexed side —
    the routine-monitoring form at 100 TB (the build-time distance
    distribution is stable, so a 1% sample pins the baseline; the batch
    side is always scored in full, it IS the thing under test).

    Output: one row per side — (side, n_vectors, n_malformed, mean_dist,
    median_dist, p90_dist).
    """
    if not (0.0 < index_fraction <= 1.0):
        raise ValueError(f"index_fraction must be in (0, 1], got {index_fraction}")
    from etl_hiscox_spark.sources.genlog import live_index_paths

    paths = live_index_paths(spark, path)
    C = load_ivf_centroids(spark, paths[0], resolved=True)

    def nearest_dist(col: Column) -> Column:
        @F.pandas_udf("double")
        def _dist(embs: pd.Series) -> pd.Series:
            if not len(embs):
                return pd.Series([], dtype="float64")
            # shared kernel with cluster assignment (_nearest_centroid_col)
            # so reported distances can never disagree with the distances
            # assignment actually used
            valid, d = _centroid_distance_grid(C, embs)
            # clip tiny negative float noise before sqrt
            best = np.sqrt(np.clip(d.min(axis=1), 0.0, None))
            return pd.Series(np.where(valid, best, np.nan))

        # asNondeterministic: __d feeds several aggregate branches; without
        # the marker Catalyst may clone the ArrowEvalPython node and score
        # every row twice (same fix as cosine_scores_pandas, plan-pinned).
        return F.round(_dist.asNondeterministic()(col), 6)

    idx = _read_ivf_segments(spark, paths)
    if index_fraction < 1.0:
        idx = idx.sample(fraction=index_fraction, seed=seed)
    indexed = idx.select(
        F.lit("indexed").alias("side"),
        nearest_dist(F.col(embedding_col)).alias("__d"),
    )
    batch = batch_df.select(
        F.lit("batch").alias("side"),
        nearest_dist(F.col(embedding_col)).alias("__d"),
    )
    # NaN (malformed) -> NULL so every aggregate below skips them natively
    both = indexed.unionByName(batch).select(
        "side",
        F.when(F.isnan("__d"), F.lit(None)).otherwise(F.col("__d")).alias("__dv"),
    )
    return both.groupBy("side").agg(
        F.count("__dv").alias("n_vectors"),
        (F.count(F.lit(1)) - F.count("__dv")).alias("n_malformed"),
        F.round(F.avg("__dv"), 6).alias("mean_dist"),
        F.round(F.expr("percentile(__dv, 0.5)"), 6).alias("median_dist"),
        F.round(F.expr("percentile(__dv, 0.9)"), 6).alias("p90_dist"),
    )


def ivf_probe_topk(
    spark,
    path: str,
    centroids: np.ndarray | None,
    embedding_col: str,
    id_col: str,
    query_vec: Sequence[float],
    k: int = 10,
    n_probe: int = 4,
) -> DataFrame:
    """Top-k over a written IVF index: pick the ``n_probe`` nearest
    centroids driver-side ((n_clusters, dim) matvec — microseconds), then
    scan ONLY those cluster partitions. The ``__cluster`` IN-filter is a
    partition filter, so unprobed partitions are never opened (plan-gated
    in tests — the same pruning a date-partitioned fact table gets).

    ``centroids=None`` loads the geometry persisted INSIDE the index
    (:func:`load_ivf_centroids`) — the deployment form: probes read their
    parameters from the index, never from the caller."""
    from etl_hiscox_spark.sources.genlog import live_index_paths

    paths = live_index_paths(spark, path)
    if centroids is None:
        centroids = load_ivf_centroids(spark, paths[0], resolved=True)
    q = np.asarray(query_vec, dtype=np.float64)
    qn = q / np.linalg.norm(q)
    cn = centroids / np.clip(np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12, None)
    probe = [int(p) for p in np.argsort(-(cn @ qn))[:n_probe]]
    candidates = _read_ivf_segments(spark, paths).filter(
        F.col("__cluster").isin(probe)
    )
    return cosine_topk(candidates, embedding_col, id_col, query_vec, k)


def ivf_probe_topk_quantized(
    spark,
    path: str,
    embedding_col: str,
    id_col: str,
    query_vec: Sequence[float],
    k: int = 10,
    n_probe: int = 4,
    rerank_factor: int = 3,
) -> DataFrame:
    """Top-k over a quantized IVF index (``write_ivf_index(quantize=True)``)
    — the composed 100 TB probe path: partition pruning picks the
    ``n_probe`` nearest clusters, the candidate scan reads the STORED
    int8 codes column only (parquet column pruning: the float embeddings
    are not touched — ~4x less scan IO; plan-gated in tests), candidates
    rank by exact integer code-cosine (bit-reproducible, no float
    summation-order noise), and only the ``rerank_factor * k`` shortlist
    fetches its float vectors (an id IN-literal that pushes down to the
    parquet scan for row-group skipping) for the exact rerank.

    The scale cancels out of the code cosine, so scoring never reads
    ``__qscale``; the query vector quantizes driver-side with the SAME
    rounding convention as the stored codes (:func:`_int8_query_codes`).
    Output: (id, approx_cos, exact_cos, rank) — :func:`quantized_topk`'s
    contract, with the corpus scan swapped from float32 re-quantization
    to the stored representation. The shortlist collect is bounded
    (rerank_factor * k rows — the MMR-shortlist class of driver scalar).
    """
    import math

    from etl_hiscox_spark.sources.genlog import live_index_paths

    paths = live_index_paths(spark, path)
    C = load_ivf_centroids(spark, paths[0], resolved=True)
    q = [float(x) for x in query_vec]
    qn = np.asarray(q) / np.linalg.norm(q)
    cn = C / np.clip(np.linalg.norm(C, axis=1, keepdims=True), 1e-12, None)
    probe = [int(p) for p in np.argsort(-(cn @ qn))[:n_probe]]

    idx = _read_ivf_segments(spark, paths)
    if "__codes" not in idx.columns:
        raise ValueError(
            f"IVF index at {path!r} has no __codes column — build it with "
            "write_ivf_index(quantize=True) or probe with ivf_probe_topk"
        )
    qarr = np.asarray(_int8_query_codes(q), dtype=np.int64)
    sqrt_nq = math.sqrt(float(qarr @ qarr))

    @F.pandas_udf("double")
    def _cscore(codes: pd.Series) -> pd.Series:
        if not len(codes):
            return pd.Series([], dtype="float64")
        mat = np.vstack(
            [np.asarray(c, dtype=np.int64) for c in codes.to_numpy()]
        )
        dotq = mat @ qarr
        nc = np.einsum("ij,ij->i", mat, mat)
        denom = np.sqrt(nc.astype(np.float64)) * sqrt_nq
        with np.errstate(divide="ignore", invalid="ignore"):
            out = np.where(denom > 0, dotq / denom, np.nan)
        return pd.Series(out)

    pruned = idx.filter(F.col("__cluster").isin(probe))
    scored = pruned.select(
        F.col(id_col),
        # asNondeterministic: same Catalyst-cloning guard as quantized_topk
        _cscore.asNondeterministic()(F.col("__codes")).alias("approx_cos"),
    ).filter(F.col("approx_cos").isNotNull() & ~F.isnan("approx_cos"))
    shortlist = scored.orderBy(
        F.col("approx_cos").desc(), F.col(id_col).asc()
    ).limit(rerank_factor * k).collect()
    # id type comes from the index schema, never hardcoded — the same
    # generic-id rule as mmr_topk (r11 review: a string-id index would
    # crash a 'long'-typed literal frame)
    from pyspark.sql import types as T

    id_field = idx.schema[id_col]
    if not shortlist:
        return local_rows_df(
            spark,
            [],
            T.StructType(
                [
                    T.StructField(id_col, id_field.dataType),
                    T.StructField("approx_cos", T.DoubleType()),
                    T.StructField("exact_cos", T.DoubleType()),
                    T.StructField("rank", T.IntegerType()),
                ]
            ),
        )
    ids = [r[id_col] for r in shortlist]
    approx = local_rows_df(
        spark,
        [(r[id_col], float(r["approx_cos"])) for r in shortlist],
        T.StructType(
            [
                T.StructField(id_col, id_field.dataType),
                T.StructField("approx_cos", T.DoubleType()),
            ]
        ),
    )
    qdlit = _as_double_literal_array(q)
    fetched = (
        pruned.filter(F.col(id_col).isin(ids))  # pushed-down row-group skip
        .select(id_col, F.col(embedding_col).cast("array<double>").alias("_v"))
        .join(F.broadcast(approx), id_col)
    )
    rer = fetched.select(
        id_col, "approx_cos", cosine(F.col("_v"), qdlit).alias("exact_cos")
    )
    w = Window.orderBy(F.col("exact_cos").desc(), F.col(id_col).asc())
    return (
        rer.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("rank")
    )


def blocked_cosine_pairs_pandas(
    df: DataFrame,
    embedding_col: str,
    id_col: str,
    block_col: str,
    threshold: float = 0.3,
) -> DataFrame:
    """All within-block pairs (id_a < id_b) with cosine above ``threshold``,
    computed per block as ONE BLAS matrix product (``applyInPandas``).

    This is the scale form of blocked near-pair search: the per-pair cost
    of an expression-level dot product is O(dim) *interpreted* array work
    × O(block²) pairs; here each block becomes a single ``mat @ mat.T``
    (Arrow in, numpy/BLAS inside, pairs-above-threshold out — the n²×dim
    intermediate never crosses the JVM↔Python boundary). Rows are sorted
    by id inside each block so output is deterministic. Blocks must fit a
    worker's memory (n_block² doubles) — for the 100 TB deployment keep
    blocks ≤ ~50k vectors and split hot blocks upstream (salt + merge, or
    IVF-subcluster them).
    """
    from pyspark.sql import types as T

    id_field = df.schema[id_col]
    blk_field = df.schema[block_col]
    out_schema = T.StructType(
        [
            T.StructField("id_a", id_field.dataType),
            T.StructField("id_b", id_field.dataType),
            T.StructField(block_col, blk_field.dataType),
            T.StructField("cosine_sim", T.DoubleType()),
        ]
    )

    def emit_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        n = len(pdf)
        empty = pd.DataFrame(
            {"id_a": [], "id_b": [], block_col: [], "cosine_sim": []}
        )
        if n < 2:
            return empty
        # Guarded stack: malformed embedding cells become NaN rows, whose
        # pair sims are NaN and never pass `vals > threshold` below.
        mat = _stack_embeddings(pdf[embedding_col])
        norms = np.linalg.norm(mat, axis=1)
        denom = np.outer(norms, norms)
        with np.errstate(divide="ignore", invalid="ignore"):
            sims = np.where(denom > 0, (mat @ mat.T) / denom, np.nan)
        ia, ib = np.triu_indices(n, k=1)
        vals = sims[ia, ib]
        keep = vals > threshold  # NaN (zero-norm) never passes
        if not keep.any():
            return empty
        ids = pdf[id_col].to_numpy()
        return pd.DataFrame(
            {
                "id_a": ids[ia[keep]],
                "id_b": ids[ib[keep]],
                block_col: pdf[block_col].iloc[0],
                "cosine_sim": vals[keep],
            }
        )

    emb_double = F.transform(F.col(embedding_col), lambda x: x.cast("double"))
    # A null block key would still form an applyInPandas group, but the
    # self-equi-join this operator replaces never matches nulls — keep the
    # two formulations interchangeable.
    prepared = df.filter(F.col(block_col).isNotNull()).select(
        F.col(id_col), F.col(block_col), emb_double.alias(embedding_col)
    )
    return prepared.groupBy(block_col).applyInPandas(emit_pairs, schema=out_schema)


def semantic_dedup(
    df: DataFrame,
    embedding_col: str,
    id_col: str,
    block_col: str,
    threshold: float = 0.3,
) -> DataFrame:
    """Semantic (embedding-space) deduplication: drop all but one document
    from every cluster of cosine-similar embeddings (SemDeDup pattern —
    Abbas et al. 2023, arXiv:2303.09540).

    Composition of existing scale primitives, nothing bespoke:
    1. within-block near pairs via one BLAS matmul per block
       (:func:`blocked_cosine_pairs_pandas` — pairs never form globally);
    2. transitive closure via iterative min-label propagation
       (:func:`...dedup.connected_components` — O(cluster diameter) rounds);
    3. keeper = min id per component, dropped via one left-anti join.

    At 100 TB the block key is an IVF/k-means cluster id written as a
    partition column; here any low-cardinality column works (label).
    """
    from etl_hiscox_spark.operators.dedup import connected_components

    pairs = blocked_cosine_pairs_pandas(df, embedding_col, id_col, block_col, threshold)
    comp = connected_components(pairs.select("id_a", "id_b"))
    drops = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(drops, on=id_col, how="left_anti")


def _half_up(y: np.ndarray) -> np.ndarray:
    """Exact vectorized ROUND_HALF_UP (away from zero) for |y| < 2^52.

    frac = |y| - floor(|y|) is EXACT in float64 (both operands lie on the
    same binade grid), so the >= 0.5 comparison is the true tie-break —
    matching Spark's F.round and DuckDB's round() on the exact binary
    value. np.round would be half-even; floor(|y|+0.5) misrounds doubles
    one ulp below a half (the +0.5 addition itself rounds up). Parity
    pinned in tests/test_dedup_similarity.py.
    """
    a = np.abs(y)
    fl = np.floor(a)
    r = fl + (a - fl >= 0.5)
    return (np.sign(y) * r).astype(np.int64)


def _int8_query_codes(q: list[float]) -> list[int]:
    """Driver-side symmetric int8 quantization of ONE query vector —
    Decimal HALF_UP on the exact binary value, identical to Spark's
    F.round and DuckDB's round(); floor(x+0.5) would misround doubles
    just below a half (the +0.5 addition itself rounds up). Shared by
    :func:`quantized_topk` and :func:`ivf_probe_topk_quantized` so the
    two scan paths can never quantize the query differently."""
    import decimal

    qscale = max((abs(x) for x in q), default=0.0) / 127.0
    if qscale == 0:
        return [0] * len(q)
    return [
        int(
            decimal.Decimal(x / qscale).quantize(
                decimal.Decimal(1), rounding=decimal.ROUND_HALF_UP
            )
        )
        for x in q
    ]


def quantized_topk(
    df: DataFrame,
    embedding_col: str,
    id_col: str,
    query_vec: Sequence[float],
    k: int = 10,
    rerank_factor: int = 3,
) -> DataFrame:
    """Int8 scalar-quantized ANN: integer-dot candidate scan + exact rerank.

    Stage 1 scores EVERY row with the quantized cosine: codes are symmetric
    per-vector int8 (round(x / (max|x|/127)), HALF_UP — the
    ``vectors.quantize_int8`` formula, vectorized in the Arrow tier), and
    dot/norms over codes are exact int64 arithmetic, so the candidate
    ranking is bit-reproducible across engines (no float summation-order
    noise). Stage 2 re-scores only ``rerank_factor * k`` candidates with
    the exact float cosine and emits the final top-k.

    Output: (id, approx_cos, exact_cos, rank) — approx_cos kept so recall
    regressions are visible in the result itself.

    At 100 TB this split is the point: the int8 codes are what the
    deployment stores and scans (4x less IO than float32, SIMD-friendly
    integer dot in an Arrow/BLAS tier), while the float vectors are fetched
    for a constant rerank_factor*k rows only. Plan here: scan → project →
    filter → TakeOrderedAndProject(rerank_factor*k) → single tiny-task
    rerank — no shuffle of the corpus, no driver collect of candidates.
    """
    import math

    q = [float(x) for x in query_vec]
    qcodes = _int8_query_codes(q)
    nq = sum(c * c for c in qcodes)

    # Stage-1 scoring runs in the Arrow tier (one numpy pass per batch) —
    # the expression-tier fold form re-evaluated the O(d) scale fold per
    # element (interpreted lambdas + no CSE: the t27 finding, O(d²)/row)
    # and even staged projections get re-collapsed by CollapseProject.
    # Integer arithmetic is exact in numpy int64, so the candidate ranking
    # stays bit-reproducible vs the SQL oracle; only the rounding needs
    # care — see _half_up below.
    qarr = np.asarray(qcodes, dtype=np.int64)
    sqrt_nq = math.sqrt(float(nq))

    @F.pandas_udf("double")
    def _qscore(embs: pd.Series) -> pd.Series:
        if not len(embs):
            return pd.Series([], dtype="float64")
        mat = _stack_embeddings(embs, dim=qarr.size)  # NaN rows for garbage
        scale = np.max(np.abs(mat), axis=1) / 127.0
        with np.errstate(divide="ignore", invalid="ignore"):
            y = mat / scale[:, None]
        ok = np.isfinite(y).all(axis=1)
        codes = np.zeros_like(mat, dtype=np.int64)
        if ok.any():
            codes[ok] = _half_up(y[ok])
        dotq = codes @ qarr
        nc = np.einsum("ij,ij->i", codes, codes)
        denom = np.sqrt(nc.astype(np.float64)) * sqrt_nq
        with np.errstate(divide="ignore", invalid="ignore"):
            out = np.where(ok & (denom > 0), dotq / denom, np.nan)
        return pd.Series(out)

    v = F.col(embedding_col).cast("array<double>")
    scored = df.select(
        F.col(id_col),
        v.alias("_v"),
        # asNondeterministic: same reason as cosine_scores_pandas — stop
        # Catalyst cloning the Arrow eval under both Filter and Project.
        _qscore.asNondeterministic()(v).alias("approx_cos"),
    ).filter(F.col("approx_cos").isNotNull() & ~F.isnan("approx_cos"))
    cand = scored.orderBy(F.col("approx_cos").desc(), F.col(id_col).asc()).limit(
        rerank_factor * k
    )
    qdlit = _as_double_literal_array(q)
    rer = cand.select(
        id_col,
        "approx_cos",
        cosine(F.col("_v"), qdlit).alias("exact_cos"),
    )
    w = Window.orderBy(F.col("exact_cos").desc(), F.col(id_col).asc())
    return (
        rer.orderBy(F.col("exact_cos").desc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, "approx_cos", "exact_cos", F.row_number().over(w).alias("rank"))
    )
