"""Expected results, computed with DuckDB from the generated inputs.

Where a workload's output has the shape of a registered query, the query's
own DuckDB oracle text is reused: a6 and g1 for the gold layer, t13 for the
corpus shape, and the shingle/Jaccard fragment of the LSH lifecycle probes
for index probes. Everything here runs once per seed, before timing.
"""

from __future__ import annotations

import math
import os

import duckdb

# lineitem_ruleset's pass predicate (NULLs pass every rule but NotNull), as
# the q2_rule_profile oracle spells it rule by rule
LINEITEM_PASS = """
    l_orderkey IS NOT NULL
    AND (l_quantity IS NULL OR (l_quantity >= 1.0 AND l_quantity <= 45.0))
    AND (l_discount IS NULL OR (l_discount >= 0.0 AND l_discount <= 0.08))
    AND (l_returnflag IS NULL OR l_returnflag IN ('A', 'N'))
    AND COALESCE(l_extendedprice > l_quantity * 900, TRUE)
"""


def registered_oracle(name: str) -> str:
    """The DuckDB SQL registered as the oracle of declared query ``name``."""
    from etl_hiscox_spark.queries import QUERIES
    from etl_hiscox_spark.queries import analytics, llm, relational  # noqa: F401

    return QUERIES[name].oracle


def _view(con, name: str, path: str, where: str | None = None) -> None:
    sql = f"SELECT * FROM read_parquet('{path}')"
    if where:
        sql += f" WHERE {where}"
    con.execute(f"CREATE OR REPLACE VIEW {name} AS {sql}")


def _rows(con, sql: str) -> list[tuple]:
    return [tuple(r) for r in con.execute(sql).fetchall()]


def medallion_expected(inputs: str) -> dict:
    """Silver/quarantine row counts and the two gold tables over the valid
    rows (a6 and g1's oracles with ``lineitem`` bound to silver)."""
    con = duckdb.connect()
    try:
        for t in ("orders", "customer", "nation", "region"):
            _view(con, t, os.path.join(inputs, f"{t}.parquet"))
        li = os.path.join(inputs, "lineitem.parquet")
        _view(con, "raw_lineitem", li)
        _view(con, "lineitem", li, LINEITEM_PASS)
        n_raw = con.execute("SELECT COUNT(*) FROM raw_lineitem").fetchone()[0]
        n_valid = con.execute("SELECT COUNT(*) FROM lineitem").fetchone()[0]
        return {
            "silver_rows": n_valid,
            "quarantine_rows": n_raw - n_valid,
            "pricing_summary": sorted(_rows(con, registered_oracle("a6_grouped_pricing_summary"))),
            "nation_revenue": sorted(_rows(con, registered_oracle("g1_star_join_revenue"))),
        }
    finally:
        con.close()


def corpus_expected(docs_path: str) -> list[tuple]:
    """t13's per-split corpus shape (split, n_docs, n_chunks, n_tokens)."""
    con = duckdb.connect()
    try:
        _view(con, "documents", docs_path)
        return sorted(_rows(con, registered_oracle("t13_corpus_prep_pipeline")))
    finally:
        con.close()


def jaccard_graph(docs_path: str, probe_ids: list[int], others_below: int) -> list[tuple]:
    """Every (probe doc, other doc, jaccard) pair with exact shingle Jaccard
    >= 0.8 — the LSH lifecycle probes' oracle, with the probe side bound to
    ``probe_ids`` and the other side to the docs that can be in the index
    (ids below ``others_below``, or a probe doc). A probe's expected answer
    is this graph restricted to the docs live in the index at that moment."""
    from etl_hiscox_spark.queries.llm import _ORACLE_SHINGLE_N_CTE

    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE probe_ids(doc_id BIGINT)")
        con.executemany("INSERT INTO probe_ids VALUES (?)", [(int(i),) for i in probe_ids])
        # a doc's shingles depend on its own text only, so dropping docs
        # that can never be live leaves every remaining pair's Jaccard as is
        _view(con, "documents", docs_path, f"doc_id < {int(others_below)} OR doc_id IN (SELECT doc_id FROM probe_ids)")
        sql = (
            "WITH "
            + _ORACLE_SHINGLE_N_CTE
            + """,
            inter AS (
              SELECT a.doc_id AS new_id, b.doc_id AS dup_of, COUNT(*) AS i
              FROM grams a JOIN grams b ON a.g = b.g
              WHERE a.doc_id IN (SELECT doc_id FROM probe_ids) AND a.doc_id <> b.doc_id
              GROUP BY a.doc_id, b.doc_id
            )
            SELECT new_id, dup_of,
                   ROUND(i / CAST(na.n + nb.n - i AS DOUBLE), 6) AS jaccard
            FROM inter
            JOIN n na ON new_id = na.doc_id JOIN n nb ON dup_of = nb.doc_id
            WHERE 5 * i >= 4 * (na.n + nb.n - i)
            """
        )
        return sorted(_rows(con, sql))
    finally:
        con.close()


def same_rows(got: list[tuple], want: list[tuple], rel: float = 1e-9) -> bool:
    """Row multisets equal, floats within ``rel`` (both sides sorted)."""
    if len(got) != len(want):
        return False
    for g, w in zip(sorted(got, key=_key), sorted(want, key=_key)):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(a, float) or isinstance(b, float):
                if a is None or b is None or not math.isclose(a, b, rel_tol=rel, abs_tol=1e-9):
                    return False
            elif a != b:
                return False
    return True


def _key(row: tuple) -> tuple:
    return tuple((x is None, round(x, 6) if isinstance(x, float) else x) for x in row)
