"""Cache lifecycle for operators that ``persist()`` internal frames.

Several operators lazily persist an intermediate that feeds multiple plan
branches — :func:`dedup.jaccard_pairs`' shingle stem,
:func:`dedup.probe_minhash_index`'s candidate set,
:func:`diagnostics.key_skew_profile`'s key counts. The persist is
load-bearing (without it each branch re-scans and re-aggregates the full
input — a double corpus scan at the 100 TB design point), but the cached
blocks outlive the query: in a long-lived session (streaming foreachBatch
loops, bench harnesses, notebook pipelines) they accumulate and tax
UNRELATED queries — measured 4x slowdowns in the r8 bench before
``spark.catalog.clearCache()`` barriers were added there.

Contract (ADVICE r8): an operator that persists internals ATTACHES those
frames to the DataFrame it returns (``_owned_caches``). The caller
materializes the result, then frees the blocks with
:func:`release_caches` — or scopes the whole thing::

    with owned_caches(probe_minhash_index(batch, "text", "id", path)) as out:
        out.write.parquet(dest)          # caches alive while materializing
    # caches released here

``release_caches`` is idempotent and safe on frames with no attached
caches, so call sites can apply it unconditionally. The attachment rides
the exact DataFrame object the operator returned; derived frames
(``out.select(...)``) do not inherit it — release the operator's return
value itself.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame

_ATTR = "_owned_caches"


def attach_owned_caches(result: DataFrame, caches: list[DataFrame]) -> DataFrame:
    """Record ``caches`` (persisted internals) as owned by ``result``.

    Merges with any caches already attached (an operator composing another
    cache-owning operator forwards the inner frames so ONE release call
    frees everything).
    """
    existing = list(getattr(result, _ATTR, ()))
    setattr(result, _ATTR, existing + [c for c in caches if c is not None])
    return result


def adopt_caches(result: DataFrame, inner: DataFrame) -> DataFrame:
    """Transfer ``inner``'s attached caches onto ``result`` (composition)."""
    return attach_owned_caches(result, list(getattr(inner, _ATTR, ())))


def release_caches(df: DataFrame) -> int:
    """Unpersist every cache attached to ``df``; returns how many.

    Idempotent: the attachment list is cleared, so a second call is a
    no-op. ``blocking=False`` — the async JVM cleanup is enough; callers
    needing a hard barrier (benchmarks) follow with their own GC pass.
    """
    caches = list(getattr(df, _ATTR, ()))
    for c in caches:
        try:
            c.unpersist(blocking=False)
        except Exception:  # session already stopped — nothing to free
            pass
    if caches:
        setattr(df, _ATTR, [])
    return len(caches)


@contextmanager
def owned_caches(df: DataFrame):
    """Scope an operator result: caches live inside the block, freed after."""
    try:
        yield df
    finally:
        release_caches(df)


def cached_rdd_ids(spark) -> set:
    """IDs of the RDDs currently holding a storage level — the
    order-robust observable for lifecycle tests: absolute counts drift
    when the ContextCleaner asynchronously reaps caches earlier tests
    released with ``blocking=False``, but "this operator's NEW cache ids
    are gone after release" is immune to background cleanup (r12, found
    as a full-suite-order flake)."""
    return {
        int(i)
        for i in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    }
