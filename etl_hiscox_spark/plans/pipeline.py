"""In-process pipeline runner — orchestrator parity (SURVEY.md §3.1).

The reference chains OS subprocesses with exit-code-only IR
(``scripts/orchestrator.py:32-42``) and downgrades quality-test failures to
warnings (``:84-85``). This runner keeps the same step/report/exit semantics
but passes DataFrames in-session: no process hops, no triple recomputation.

A model is a named step with dependencies (the dbt ref()/source() DAG,
SURVEY.md §3.3) that returns a DataFrame; the runner topo-sorts, executes,
materializes, and collects per-step metrics.

Ready models run concurrently, the parity of dbt's ``threads``
(``dbt/profiles.yml:10,23,34``): each model starts as soon as every
dependency has succeeded, at most ``concurrency.MAX_IN_FLIGHT`` at a time,
each on a driver thread that carries the caller's Spark job group and tags.
Spark runs the jobs of independent models side by side inside one
application, so a long branch (a corpus build) no longer waits behind an
unrelated chain. ``StepResult.seconds`` is each step's own wall time, so
the step times of a run can sum to more than the run took.

Failure rule: after a step fails, no new model starts; models already
running finish and are reported. Dependents of a skipped or warned step
are reported ``skipped``. ``PipelineReport.steps`` is in topo order,
whatever order the steps finished in.
"""

from __future__ import annotations

import threading
import time
from collections.abc import Callable, Sequence
from concurrent.futures import FIRST_COMPLETED, Future, ThreadPoolExecutor, wait
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target

from etl_hiscox_spark.concurrency import MAX_IN_FLIGHT

ModelFn = Callable[[SparkSession, dict[str, DataFrame]], DataFrame]


@dataclass
class Model:
    """One named transformation (dbt model equivalent)."""

    name: str  # layer-qualified, e.g. "silver.claims"
    fn: ModelFn
    deps: tuple[str, ...] = ()
    materialize_path: str | None = None
    partition_by: tuple[str, ...] = ()
    # Q4 error actions (test_ingestion.py:255-295 semantics):
    on_missing_source: str = "fail"  # "fail" | "skip" (skip_and_continue)
    retries: int = 0  # retry_with_backoff for transient step errors
    retry_delay_seconds: float = 1.0
    # dbt materialization strategy (dbt_project.yml:32-46). "table" fully
    # rewrites materialize_path each run; "incremental" refreshes only the
    # partitions at/after the target's high-watermark partition value
    # (sources.writers.incremental_refresh) — requires exactly one
    # partition_by column, which doubles as the watermark.
    materialization: str = "table"  # "table" | "incremental"


# Held around temp-view registration plus analysis in ``sql_model``.
_VIEWS_LOCK = threading.Lock()


def sql_model(
    name: str,
    sql: str,
    deps: tuple[str, ...] = (),
    materialize_path: str | None = None,
    partition_by: tuple[str, ...] = (),
) -> Model:
    """SQL-text model — the dbt ``{{ ref(...) }}`` flow on Catalyst
    directly (SURVEY.md §3.3: our SQL entry point is ``spark.sql``).

    Each dependency's output DataFrame is registered as a temp view named
    by the last path segment (``silver.claims`` -> view ``claims``), then
    the model SQL runs against those views. No cross-process hop, no
    warehouse round-trip — the compiled-SQL-over-HTTP architecture of the
    reference collapses to one Catalyst plan.

    Temp views belong to the whole session, so registration and the
    ``spark.sql`` call hold one module-wide lock: a concurrently running
    SQL model cannot re-point a bare view (``claims``) in between.
    Analysis is eager, so the returned DataFrame has already resolved its
    views when the lock is released.
    """

    def fn(spark: SparkSession, outputs: dict[str, DataFrame]) -> DataFrame:
        # Qualified view name always (bronze.claims -> bronze_claims); the
        # bare last segment only when unambiguous — two deps named
        # *.claims would otherwise silently shadow each other. When the
        # bare name IS ambiguous, any leftover bare view from an earlier
        # step is dropped so the SQL errors instead of silently reading
        # stale data.
        last_segments = [d.split(".")[-1] for d in deps]
        with _VIEWS_LOCK:
            for dep in deps:
                outputs[dep].createOrReplaceTempView(dep.replace(".", "_"))
                short = dep.split(".")[-1]
                if last_segments.count(short) == 1:
                    outputs[dep].createOrReplaceTempView(short)
                else:
                    spark.catalog.dropTempView(short)
            return spark.sql(sql)

    return Model(
        name=name,
        fn=fn,
        deps=deps,
        materialize_path=materialize_path,
        partition_by=partition_by,
    )


@dataclass
class StepResult:
    name: str
    status: str  # success | failed | warned | skipped
    seconds: float
    rows: int | None = None
    error: str | None = None


@dataclass
class PipelineReport:
    steps: list[StepResult] = field(default_factory=list)

    @property
    def success(self) -> bool:
        return all(s.status != "failed" for s in self.steps)

    def summary(self) -> dict:
        return {
            "status": "success" if self.success else "failed",
            "steps": {
                s.name: {"status": s.status, "seconds": round(s.seconds, 2), "rows": s.rows}
                for s in self.steps
            },
        }


class Pipeline:
    """Register models, run them DAG-ordered and concurrently, report.

    Each model starts once all its deps have succeeded, up to
    ``MAX_IN_FLIGHT`` at once (see the module docstring for the failure
    rule and step timing). ``_topo_order`` rejects cycles and unregistered
    deps before anything runs.

    ``quality_steps``: step names whose failure warns instead of aborting
    (the reference's "dbt test failures don't stop the pipeline",
    orchestrator.py:84-85).
    """

    def __init__(self, spark: SparkSession, quality_steps: Sequence[str] = ()):
        self.spark = spark
        self.models: dict[str, Model] = {}
        self.quality_steps = set(quality_steps)

    def add(self, model: Model) -> "Pipeline":
        self.models[model.name] = model
        return self

    def _topo_order(self) -> list[str]:
        order: list[str] = []
        seen: dict[str, int] = {}  # 0=visiting, 1=done

        def visit(n: str) -> None:
            if seen.get(n) == 1:
                return
            if seen.get(n) == 0:
                raise ValueError(f"dependency cycle at {n}")
            seen[n] = 0
            for d in self.models[n].deps:
                if d not in self.models:
                    raise ValueError(
                        f"model {n!r} depends on unregistered model {d!r} "
                        f"(registered: {sorted(self.models)})"
                    )
                visit(d)
            seen[n] = 1
            order.append(n)

        for n in self.models:
            visit(n)
        return order

    def run(self) -> PipelineReport:
        """Run every model once its dependencies have succeeded, at most
        ``MAX_IN_FLIGHT`` at a time; report the steps in topo order."""
        order = self._topo_order()
        results: dict[str, StepResult] = {}
        outputs: dict[str, DataFrame] = {}
        blocked: set[str] = set()  # skipped or warned: dependents skip
        waiting = list(order)
        running: dict[Future, str] = {}
        failed = False
        carry = inheritable_thread_target(self.spark)
        with ThreadPoolExecutor(max_workers=MAX_IN_FLIGHT) as pool:
            while True:
                if not failed:
                    # Topo order: a dep is always decided before its
                    # dependents are scanned, so one pass also skips whole
                    # blocked chains.
                    for name in list(waiting):
                        deps = self.models[name].deps
                        if any(d in blocked for d in deps):
                            waiting.remove(name)
                            blocked.add(name)
                            results[name] = StepResult(
                                name=name, status="skipped", seconds=0.0, error="upstream skipped"
                            )
                        elif len(running) < MAX_IN_FLIGHT and all(d in outputs for d in deps):
                            waiting.remove(name)
                            step = carry(self._run_step)
                            running[pool.submit(step, self.models[name], dict(outputs))] = name
                if not running:
                    break
                done, _ = wait(running, return_when=FIRST_COMPLETED)
                for fut in done:
                    name = running.pop(fut)
                    results[name], df = fut.result()
                    status = results[name].status
                    if status == "success":
                        outputs[name] = df
                    elif status == "failed":
                        failed = True
                    else:
                        # Skipped and warned steps produced no output —
                        # dependents must skip, not crash on a missing
                        # outputs[name].
                        blocked.add(name)
        return PipelineReport(steps=[results[n] for n in order if n in results])

    def _run_step(
        self, m: Model, outputs: dict[str, DataFrame]
    ) -> tuple[StepResult, DataFrame | None]:
        """One model: retry, missing-source skip, materialization. Step
        errors become a ``failed`` (or, for quality steps, ``warned``)
        result instead of raising."""
        name = m.name
        t0 = time.time()
        try:
            from etl_hiscox_spark.plans.errors import (
                is_missing_source_error,
                retry_with_backoff,
            )

            def run_step():
                return m.fn(self.spark, outputs)

            try:
                if m.retries > 0:
                    df = retry_with_backoff(
                        run_step,
                        max_retries=m.retries,
                        delay_seconds=m.retry_delay_seconds,
                        # A missing source is deterministic — retrying
                        # it just burns max_retries × delay before the
                        # skip classification below.
                        should_retry=lambda e: not is_missing_source_error(e),
                    )
                else:
                    df = run_step()
            except Exception as e:
                if m.on_missing_source == "skip" and is_missing_source_error(e):
                    return (
                        StepResult(
                            name=name,
                            status="skipped",
                            seconds=time.time() - t0,
                            error=str(e)[:200],
                        ),
                        None,
                    )
                raise
            rows = None
            if m.materialize_path and m.materialization == "incremental":
                if len(m.partition_by) != 1:
                    raise ValueError(
                        f"incremental model {name!r} needs exactly one "
                        f"partition_by column (the watermark), got {m.partition_by}"
                    )
                from etl_hiscox_spark.sources.writers import incremental_refresh

                df = incremental_refresh(self.spark, df, m.materialize_path, m.partition_by[0])
                rows = df.count()
            elif m.materialize_path:
                from etl_hiscox_spark.observability import write_with_metrics

                metrics = write_with_metrics(
                    df,
                    m.materialize_path,
                    step=name,
                    partition_by=m.partition_by,
                )
                rows = metrics.records_processed
                df = self.spark.read.parquet(m.materialize_path)
            return StepResult(name=name, status="success", seconds=time.time() - t0, rows=rows), df
        except Exception as e:  # noqa: BLE001 - step isolation is the point
            status = "warned" if name in self.quality_steps else "failed"
            return (
                StepResult(name=name, status=status, seconds=time.time() - t0, error=str(e)[:500]),
                None,
            )
