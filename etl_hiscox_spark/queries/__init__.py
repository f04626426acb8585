"""Declared query inventory — the driver-facing contract.

Each query is registered as a ``Q(fn, oracle)`` pair: ``fn(spark, sf_dir) ->
DataFrame`` (the Spark-first implementation) and ``oracle`` (the equivalent
ANSI SQL DuckDB runs on the same parquet for the correctness gate; ``None``
for non-SQL-expressible operators, which get a rows-only check).

Determinism rules applied throughout (SURVEY.md §7):
- every computed column aliased identically in Spark and SQL;
- money aggregates via exact DECIMAL arithmetic, cast to DOUBLE at the end;
- every window ordering carries a unique tiebreaker;
- no current_timestamp / nondeterministic exprs in declared outputs.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Q:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None


QUERIES: dict[str, Q] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = Q(fn, oracle)
        return fn

    return deco


def _repo_root() -> str:
    import os

    return os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def latest_green_rounds() -> dict[str, int]:
    """Latest round each query was HASH-verified (rows+schema+values).

    The ONE parser of the CORRECTNESS artifacts — :func:`served_order`
    and the staleness/coverage guards in tests/test_api_surface.py
    consume this; keeping a second copy there diverged on path anchoring
    (CWD-relative vs repo-root).
    no_oracle entries are deliberately excluded (ADVICE r7 item 1):
    counting them let rows-only checks masquerade as greens.
    """
    import glob
    import json
    import os

    last: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(_repo_root(), "CORRECTNESS_r*.json"))):
        try:
            rnd = int(os.path.basename(path).split("_r")[1].split(".")[0])
        except (IndexError, ValueError):
            continue
        with open(path) as f:
            banked = json.load(f)
        for name, res in banked.items():
            if isinstance(res, dict) and res.get("hash_match") is True:
                last[name] = max(last.get(name, 0), rnd)
    return last


def served_order(queries: dict[str, Q], last: dict[str, int]) -> list[str]:
    """The order ``all_queries()`` serves, given ``last`` = each query's
    latest hash-green round (:func:`latest_green_rounds`).

    The driver hash-checks only the FIRST 50 entries of ``queries()`` each
    round, so the order decides which queries get a driver signal. One
    key, computed from the banked CORRECTNESS files:

    1. oracle-backed queries that were never hash-green lead;
    2. then the oldest latest-green round first;
    3. ties break by name;
    4. oracle-less queries come last — they can never bank a hash-green,
       so they must not take a checked slot.

    A checkout without CORRECTNESS files therefore serves name order.
    """

    def key(name: str) -> tuple[bool, int, str]:
        return (queries[name].oracle is None, last.get(name, 0), name)

    return sorted(queries, key=key)


def all_queries() -> dict[str, Q]:
    # Import side-effect registration; keep imports lazy so a syntax error in
    # one group doesn't take down the whole inventory surface at import time.
    from etl_hiscox_spark.queries import relational  # noqa: F401

    for mod in ("analytics", "llm", "quality", "streaming", "writes"):
        try:
            __import__(f"etl_hiscox_spark.queries.{mod}")
        except ImportError:
            pass
    return {name: QUERIES[name] for name in served_order(QUERIES, latest_green_rounds())}
