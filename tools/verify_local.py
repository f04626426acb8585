"""Local stand-in for the driver's correctness gate.

Runs every declared query through Spark AND its DuckDB oracle on the same
parquet tables, then compares row count, sorted column names, per-column
TYPE CLASSES, and the full multiset of values (order-insensitive, exact
after canonicalization).

Type classes exist because the driver's value-hash is typed: r1 evidence
shows int32-vs-int64 passes (w4 rank) but BIGINT-vs-HUGEINT fails (p9/a7/
a14 — DuckDB sums integers into INT128). So all <=64-bit ints share one
class while HUGEINT/UBIGINT get their own, and decimal(p,s) must match
exactly. A bare ``SUM(CASE ... THEN 1 ...)`` in an oracle fails HERE now,
not just in the driver.

Usage:
    python tools/verify_local.py [--sf /root/testdata/sf0.01] [--only q1,q2]
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time
import traceback

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


def canon(v):
    """Canonicalize one cell for multiset comparison.

    Mirrors the DRIVER's pandas-side canonicalization (r3 lesson): the driver
    materializes DuckDB results via ``.df()`` (DECIMAL -> float64) while Spark
    ``collect()`` yields ``decimal.Decimal`` objects — so a Decimal cell must
    NOT canonicalize to the same key as its float twin, or the local gate
    passes queries the driver hash-fails (f3_money_parse, CORRECTNESS_r03).
    """
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return tuple(canon(x) for x in v)
    import decimal

    if isinstance(v, decimal.Decimal):
        # Tagged so Decimal('1.50') never collides with float 1.5 — the
        # driver's typed hash distinguishes them, and so must we.
        return "dec:" + str(v)
    return str(v)


def _class_duck(t: str) -> str:
    """Normalize a DuckDB type string into a driver-hash-relevant class."""
    t = t.strip().upper()
    if t.endswith("[]"):
        return "list<" + _class_duck(t[:-2]) + ">"
    if t.startswith("DECIMAL"):
        return "dec" + t[len("DECIMAL"):].replace(" ", "")
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT", "USMALLINT", "UINTEGER"):
        return "i"
    if t in ("HUGEINT", "UBIGINT", "UHUGEINT"):
        return "i128"  # DuckDB SUM(int) lands here; Spark never does -> hash fail
    if t in ("FLOAT", "REAL", "DOUBLE"):
        return "f"
    if t == "BOOLEAN":
        return "b"
    if t in ("VARCHAR", "TEXT"):
        return "s"
    if t == "DATE":
        return "d"
    if t.startswith("TIMESTAMP"):
        return "ts"
    if t == "BLOB":
        return "bytes"
    if t.startswith("STRUCT"):
        return "struct"
    return t.lower()


def _class_spark(t: str) -> str:
    """Normalize a Spark simpleString() type into the same class space."""
    if t.startswith("array<") and t.endswith(">"):
        return "list<" + _class_spark(t[len("array<"):-1]) + ">"
    if t.startswith("decimal"):
        return "dec" + t[len("decimal"):]
    if t in ("tinyint", "smallint", "int", "bigint"):
        return "i"
    if t in ("float", "double"):
        return "f"
    if t == "boolean":
        return "b"
    if t == "string":
        return "s"
    if t == "date":
        return "d"
    if t.startswith("timestamp"):
        return "ts"
    if t == "binary":
        return "bytes"
    if t.startswith("struct"):
        return "struct"
    return t


def rows_to_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = {}
    for r in rows:
        key = tuple(canon(r[i]) for i in order)
        out[key] = out.get(key, 0) + 1
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    ap.add_argument(
        "--window",
        action="store_true",
        help="check only the first 50 served queries — the driver's CORRECTNESS view"
        " (order: queries.served_order, computed from the banked CORRECTNESS files)",
    )
    ap.add_argument(
        "--vanilla",
        action="store_true",
        help="driver rehearsal: bare SparkSession + the __spark_entry__ surface",
    )
    args = ap.parse_args()

    if args.vanilla:
        # Exactly the driver's view: its own session, the entry-module dicts.
        from pyspark.sql import SparkSession

        import __spark_entry__ as entry_mod

        spark = SparkSession.builder.master("local[8]").getOrCreate()
        from etl_hiscox_spark.queries import Q

        fns = entry_mod.queries()
        oracles = entry_mod.oracle_sql()
        queries = {name: Q(fn, oracles.get(name)) for name, fn in fns.items()}
        n = entry_mod.entry(spark).count()
        print(f"entry(): {n} rows")
        release = None
    else:
        from etl_hiscox_spark.operators.caching import release_caches as release
        from etl_hiscox_spark.queries import all_queries
        from etl_hiscox_spark.session import get_spark

        queries = all_queries()
        spark = get_spark("verify_local", shuffle_partitions=8)
    if args.window:
        queries = dict(list(queries.items())[:50])
    if args.only:
        keep = set(args.only.split(","))
        queries = {k: v for k, v in queries.items() if k in keep}
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf}/{t}.parquet')"
        )

    n_pass = n_fail = n_rows_only = 0
    failures = []
    for name, q in sorted(queries.items()):
        t0 = time.time()
        try:
            df = q.fn(spark, args.sf)
            s_cols = df.columns
            s_classes = {f.name: _class_spark(f.dataType.simpleString()) for f in df.schema.fields}
            s_rows = df.collect()
            if release:
                # free the query's operator caches before the next query runs
                release(df)
        except Exception:
            print(f"FAIL  {name}: spark error")
            traceback.print_exc()
            n_fail += 1
            failures.append(name)
            continue
        if q.oracle is None:
            print(f"rows  {name}: {len(s_rows)} rows (no oracle, rows-only) [{time.time()-t0:.1f}s]")
            n_rows_only += 1
            continue
        try:
            rel = con.sql(q.oracle)
            d_cols = list(rel.columns)
            d_classes = {c: _class_duck(str(t)) for c, t in zip(rel.columns, rel.types)}
            d_rows = rel.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            failures.append(name)
            continue
        problems = []
        # Driver-hashability pre-check (r3 lesson, VERDICT r3 item 3): the
        # driver canonicalizes through pandas and (a) cannot sort/hash list
        # cells ("unhashable type: 'list'" — a17 err), (b) hashes DuckDB
        # decimals as float64 but Spark decimals as Decimal objects (f3
        # hash-fail). Any top-level decimal/array output column on either
        # side is a loud local failure even if values agree.
        for side, classes in (("spark", s_classes), ("duckdb", d_classes)):
            bad_cols = {
                c: cls
                for c, cls in classes.items()
                if cls.startswith("dec") or cls.startswith("list<")
            }
            if bad_cols:
                problems.append(
                    f"not driver-hashable ({side}): {bad_cols} — cast decimals to"
                    " DOUBLE and array_join list columns in the declared output"
                )
        if len(s_rows) != len(d_rows):
            problems.append(f"rowcount spark={len(s_rows)} duckdb={len(d_rows)}")
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"columns spark={sorted(s_cols)} duckdb={sorted(d_cols)}")
        else:
            bad = {
                c: (s_classes[c], d_classes[c])
                for c in s_cols
                if s_classes[c] != d_classes[c]
            }
            if bad:
                problems.append(f"type class mismatch (spark, duckdb): {bad}")
        if not problems:
            ms = rows_to_multiset(s_cols, [[r[c] for c in s_cols] for r in s_rows])
            md = rows_to_multiset(d_cols, d_rows)
            if ms != md:
                diff_s = {k: v for k, v in ms.items() if md.get(k) != v}
                diff_d = {k: v for k, v in md.items() if ms.get(k) != v}
                ex_s = list(diff_s.items())[:2]
                ex_d = list(diff_d.items())[:2]
                problems.append(f"values differ: {len(diff_s)}/{len(ms)} spark-only keys; e.g. spark={ex_s} duckdb={ex_d}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            n_fail += 1
            failures.append(name)
        else:
            print(f"PASS  {name}: {len(s_rows)} rows [{time.time()-t0:.1f}s]")
            n_pass += 1

    print(f"\n{n_pass} pass, {n_rows_only} rows-only, {n_fail} fail")
    if failures:
        print("failed:", ",".join(failures))
        sys.exit(1)


if __name__ == "__main__":
    main()
