"""Overlap independent Spark actions from driver threads (guide §2.6).

Spark's scheduler runs several jobs at once inside one application;
actions are only sequential because driver code calls them sequentially.
The lifecycle compositions here chain many SMALL independent actions
(store builds, per-store erases, report counts) whose cost is dominated
by per-action latency — scheduling, planning, the py4j round trip — not
executor throughput, so running them from a small pool lets the next
action's tasks back-fill the current one's tail. FIFO scheduling keeps
the back-fill behaviour; 2–4 in flight is plenty (``MAX_IN_FLIGHT``, the
cap ``plans.pipeline.Pipeline`` also runs its model DAG under).

Only INDEPENDENT work goes through here: actions on disjoint paths or
read-only actions. Protocol chains (OCC commits on one log) stay
sequential — their order IS the semantics.

Every callable handed to a pool thread is wrapped by
``pyspark.util.inheritable_thread_target`` on the submitting thread.
Spark local properties (job group, job description, scheduler pool) and
session tags are per-thread, so a bare pool thread would start its jobs
outside the caller's job group: they would escape ``cancelJobGroup`` and
job-group attribution. The wrapper copies the caller's properties and
tags into the pool thread before the callable runs.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor
from typing import TypeVar

from pyspark.errors import PySparkRuntimeError
from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target

T = TypeVar("T")
F = TypeVar("F", bound=Callable)

MAX_IN_FLIGHT = 4


def _carry_context() -> Callable[[F], F]:
    """Decorator that runs a callable under the CURRENT thread's Spark
    local properties and the active or default session's tags, wherever
    it is later called (a pool thread has no active session of its own,
    hence the default). The properties are captured now, so call this on
    the submitting thread. With no session at all there is no context to
    carry and callables pass through unchanged.
    """
    try:
        session = SparkSession.active()
    except PySparkRuntimeError:
        return lambda f: f
    return inheritable_thread_target(session)


def run_overlapped(thunks: Sequence[Callable[[], T]], max_workers: int = MAX_IN_FLIGHT) -> list[T]:
    """Run independent zero-arg callables concurrently; results in order.

    The first raised exception propagates (after the pool drains), same
    as the sequential loop it replaces. With one thunk the pool is
    skipped entirely. Each thunk runs under the caller's Spark context
    (its job group, job description, scheduler pool and tags).
    """
    if not thunks:
        return []
    if len(thunks) == 1:
        return [thunks[0]()]
    carry = _carry_context()
    with ThreadPoolExecutor(max_workers=min(max_workers, len(thunks))) as pool:
        futures = [pool.submit(carry(t)) for t in thunks]
        return [f.result() for f in futures]
