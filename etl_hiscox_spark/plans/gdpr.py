"""End-to-end right-to-be-forgotten composition (VERDICT r10 item 6).

The engine stores a subject's data in up to four places: the base parquet
table, the txn-log table's HISTORY (every time-travel version), and the
two derived index layouts (IVF cluster partitions, minhash bucket table)
— an index IS a copy of the data, so GDPR reaches it exactly like the
primary store. Each store has its own erase operator with its own commit
protocol; what was missing is the composition that a compliance workflow
actually calls, where forgetting ONE store silently breaks the
guarantee. ``erase_subject`` chains all four and (by default) re-scans
every store afterward, raising if any residual row survives — erasure
that cannot prove completion is erasure that did not happen.

All four underlying operators are idempotent (erasing an absent key is a
0-row no-op), so the recovery story for a crash mid-composition is
simply: run it again.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def erase_subject(
    spark: SparkSession,
    keys: DataFrame,
    *,
    base_tables: Sequence[tuple[str, str]] = (),
    txn_tables: Sequence[tuple[str, str]] = (),
    ivf_indexes: Sequence[tuple[str, str]] = (),
    minhash_indexes: Sequence[tuple[str, str]] = (),
    verify: bool = True,
) -> list[dict]:
    """Erase every row whose key appears in ``keys`` from every listed
    store. Each store is a ``(path, key_col)`` pair; ``keys`` is a 1-column
    frame of subject keys. Returns one report row per store:
    ``{"kind", "path", "key_col", "n_erased"}`` — except the txn-history
    kind, whose underlying operator reports work in FILES, not rows (a
    row can exist in many versions, so "rows erased" has no single
    number): its row carries ``n_files_rewritten`` instead of a
    misleadingly-small ``n_erased`` (r11 review).

    The key frame flows END-TO-END as a frame (r12, VERDICT r11 "what's
    wrong" #1): hit detection inside every operator and every residual
    re-scan here is a broadcast semi-join — the composition never
    collects the keys to the driver and never builds an IN-literal, so a
    bulk purge (millions of keys) costs one broadcast per scan instead of
    a driver materialization plus a million-term plan. NULL-key and
    emptiness checks are tiny aggregate jobs, not collects.

    With ``verify=True`` (default) every store is re-scanned AFTER its
    rewrite — including every time-travel version of a txn table — and a
    surviving subject row raises instead of returning a report that
    claims compliance.

    An EMPTY key set returns the per-store report with zero counts and
    touches nothing: base-table erasure is a whole-table rewrite+swap,
    and paying that (plus four residual scans) for a guaranteed no-op is
    hours of wasted IO at scale (r11 review).
    """
    from etl_hiscox_spark.operators.dedup import _LSH, erase_from_minhash_index
    from etl_hiscox_spark.operators.segindex import live_rows
    from etl_hiscox_spark.operators.similarity import _IVF, erase_from_ivf_index
    from etl_hiscox_spark.sources.txnlog import TxnTable
    from etl_hiscox_spark.sources.writers import erase_keys as erase_base

    n_cols = len(keys.columns)
    if n_cols != 1:
        raise ValueError(
            f"keys must be a 1-column frame of subject keys, got {n_cols} columns"
        )
    kc = keys.columns[0]
    # one pass decides both guards: every underlying operator treats NULL
    # keys as "anonymous rows, never erased", so a NULL in an erasure
    # REQUEST is a caller bug; and an all-absent frame must short-circuit.
    # The distinct frame is reused by every store's erase + residual scan
    # below — persist it so the request source is read once, not 8+ times.
    kdf = keys.select(kc).distinct().persist()
    try:
        counts = kdf.agg(
            F.count(F.lit(1)).alias("n"), F.count(kc).alias("n_nonnull")
        ).first()
        if counts["n"] != counts["n_nonnull"]:
            raise ValueError("erase_subject: NULL subject key in the erasure request")

        report: list[dict] = []

        def record(kind: str, path: str, key_col: str, n: int, metric: str = "n_erased") -> None:
            report.append(
                {"kind": kind, "path": path, "key_col": key_col, metric: int(n)}
            )

        if counts["n"] == 0:
            for kind, stores, metric in (
                ("base", base_tables, "n_erased"),
                ("txn_history", txn_tables, "n_files_rewritten"),
                ("ivf_index", ivf_indexes, "n_erased"),
                ("minhash_index", minhash_indexes, "n_erased"),
            ):
                for path, key_col in stores:
                    record(kind, path, key_col, 0, metric)
            return report

        def residuals(df: DataFrame, key_col: str) -> int:
            k = F.broadcast(kdf.select(F.col(kc).alias(key_col)))
            return df.join(k, key_col, "left_semi").count()

        def do_base(path: str, key_col: str) -> dict:
            k = kdf.select(F.col(kc).alias(key_col))
            n = erase_base(spark, path, k, key_col)
            if verify and residuals(spark.read.parquet(path), key_col):
                raise ValueError(f"erase_subject: residual subject rows in base table {path!r}")
            return {"kind": "base", "path": path, "key_col": key_col, "n_erased": int(n)}

        def do_txn(path: str, key_col: str) -> dict:
            t = TxnTable(spark, path)
            n = t.erase_keys(key_col, kdf.select(F.col(kc).alias(key_col)))
            if verify:
                for v in t._versions():
                    if residuals(t.read(v), key_col):
                        raise ValueError(
                            f"erase_subject: residual subject rows in txn table "
                            f"{path!r} at version {v}"
                        )
            return {
                "kind": "txn_history", "path": path, "key_col": key_col,
                "n_files_rewritten": int(n),
            }

        # residual scans of index stores read the LIVE segments (reading
        # an index root raw would scan every superseded generation — r12)
        def do_ivf(path: str, id_col: str) -> dict:
            k = kdf.select(F.col(kc).alias(id_col))
            n = erase_from_ivf_index(spark, path, k, id_col)
            if verify and residuals(live_rows(spark, path, _IVF), id_col):
                raise ValueError(
                    f"erase_subject: residual subject rows in IVF index {path!r}"
                )
            return {"kind": "ivf_index", "path": path, "key_col": id_col, "n_erased": int(n)}

        def do_minhash(path: str, id_col: str) -> dict:
            k = kdf.select(F.col(kc).alias(id_col))
            n = erase_from_minhash_index(spark, path, k, id_col)
            if verify and residuals(live_rows(spark, path, _LSH), "doc"):
                raise ValueError(
                    f"erase_subject: residual subject fingerprints in minhash "
                    f"index {path!r}"
                )
            return {"kind": "minhash_index", "path": path, "key_col": id_col, "n_erased": int(n)}

        # The stores are DISJOINT paths with independent commit protocols,
        # so their erase+verify chains are independent jobs — run them
        # from a small thread pool (guide §2.6: overlap independent jobs
        # so one store's straggler tail back-fills with the next store's
        # tasks; profiled r17, s19's wall was dominated by ~88 sequential
        # driver-gap-bound actions). Report order stays deterministic:
        # futures are created and collected in declaration order.
        units: list = [
            (do_base, path, key_col) for path, key_col in base_tables
        ] + [
            (do_txn, path, key_col) for path, key_col in txn_tables
        ] + [
            (do_ivf, path, id_col) for path, id_col in ivf_indexes
        ] + [
            (do_minhash, path, id_col) for path, id_col in minhash_indexes
        ]
        from etl_hiscox_spark.concurrency import run_overlapped

        report.extend(
            run_overlapped(
                [
                    (lambda fn=fn, path=path, col=col: fn(path, col))
                    for fn, path, col in units
                ]
            )
        )
        return report
    finally:
        kdf.unpersist(blocking=False)
