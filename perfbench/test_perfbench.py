"""Tests of the benchmark itself: ``python -m pytest perfbench -q``.

The smoke tests run each workload end to end at sf0.01 through the CLI, so
they start Spark and take about a minute each.
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402
from tracing import Job, Span, Tracer, attribute, spark_totals  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# -- generator ----------------------------------------------------------------


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_generator_is_deterministic_per_seed(tmp_path, workload):
    a, b, c = (str(tmp_path / n) for n in "abc")
    gen.generate(a, 7, "sf0.01", workload)
    gen.generate(b, 7, "sf0.01", workload)
    gen.generate(c, 8, "sf0.01", workload)
    names = sorted(os.listdir(a))
    assert names == sorted(os.listdir(b))
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert match == names and not mismatch and not errors
    _, differ, _ = filecmp.cmpfiles(a, c, names, shallow=False)
    assert differ, "another seed must give other inputs"


def test_churn_plan_is_deterministic_with_a_fixed_op_order():
    sc = gen.SCALES["sf0.01"]
    p1, p2, p3 = gen.churn_plan(3, sc), gen.churn_plan(3, sc), gen.churn_plan(4, sc)
    assert p1 == p2 and p1 != p3
    for plan in (p1, p3):
        assert tuple(op["kind"] for op in plan) == gen.CHURN_PASS


# -- tracing ------------------------------------------------------------------


def test_jobs_go_to_the_innermost_open_span_and_strays_are_reported():
    tr = Tracer(layers=True)
    tr.spans = [
        Span(0, "op.a", None, 10.0, 20.0),
        Span(1, "dedup.probe", 0, 11.0, 15.0),
        Span(2, "genlog.head_resolve", 1, 11.0, 11.5),
    ]
    jobs = [Job(0, 11.2, 11.25, tasks=1), Job(1, 12.0, 14.0, tasks=8), Job(2, 16.0, 16.05, tasks=1), Job(3, 25.0, 26.0)]
    stray = attribute(jobs, tr.spans)
    assert [j.span for j in jobs] == [2, 1, 0, None]
    assert [j.jid for j in stray] == [3]
    t = spark_totals(tr, jobs, tr.spans[0])
    assert (t.jobs, t.tasks, t.tiny_jobs) == (3, 10, 2)
    assert t.job_s == pytest.approx(0.05 + 2.0 + 0.05)
    assert t.driver_gap_s == pytest.approx(10.0 - t.job_s)


# -- BENCHMARK.json against the catalog ------------------------------------------


def test_benchmark_json_matches_the_metric_catalog():
    b = _bench()
    assert [m["name"] for m in b["end_to_end"]] == [m[0] for m in metrics.END_TO_END]
    assert [m["name"] for m in b["per_layer"]] == [m[0] for m in metrics.PER_LAYER]
    for m in b["end_to_end"] + b["per_layer"]:
        assert metrics.UNITS[m["name"]] == m["unit"]
    assert {w["name"] for w in b["workloads"]} <= set(run.WORKLOADS)


# -- end to end -------------------------------------------------------------------


def _run(workload: str, trace: int, seed: int = 5) -> dict:
    env = dict(os.environ, PERFBENCH_SCALE="sf0.01")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_smoke_run_emits_every_metric_with_its_unit(workload):
    b = _bench()
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        out = _run(workload, trace)
        assert set(out) == {"correct", "attempted", "failed", "metrics"}
        assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
        want = {m["name"]: m["unit"] for m in b[key]}
        assert {k: v["unit"] for k, v in out["metrics"].items()} == want
        if trace:
            assert out["metrics"]["spark.unattributed_jobs"]["value"] == 0
        else:
            assert all(v["value"] > 0 for v in out["metrics"].values())


def _run_patched(patch: str) -> dict:
    """A medallion_etl run at sf0.01 with ``patch`` applied to the engine
    first (in a child process: the runner stops its JVM on exit)."""
    script = "\n".join(['import sys', 'sys.path[:0] = ["perfbench", "."]', "import run", patch, "sys.exit(run.main(sys.argv[1:]))"])
    env = dict(os.environ, PERFBENCH_SCALE="sf0.01")
    proc = subprocess.run(
        [sys.executable, "-c", script, "--workload", "medallion_etl", "--seed", "5", "--seconds", "1", "--trace", "0"],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


CORRUPT = """
from etl_hiscox_spark.sources import writers

orig = writers.materialize


def corrupt(df, path, *args, **kwargs):
    return orig(df.limit(0) if "gold" in path and "corpus" not in path else df, path, *args, **kwargs)


writers.materialize = corrupt
"""


def test_a_corrupted_result_is_reported_as_a_failed_op():
    """Gold tables written without their rows must fail the gold ops."""
    out = _run_patched(CORRUPT)
    assert out["correct"] is False
    assert out["failed"] == 2  # gold.pricing_summary and gold.nation_revenue, per pass


RAISE = """
from etl_hiscox_spark.sources import readers

orig = readers.with_ingest_metadata


def failing(df, *args, **kwargs):
    if "doc_id" in df.columns:
        raise RuntimeError("injected bronze failure")
    return orig(df, *args, **kwargs)


readers.with_ingest_metadata = failing
"""


def test_a_raising_step_and_the_steps_it_stops_count_as_failed_ops():
    """The pipeline stops at a failed step; that step and every model it
    did not run count as failed ops, and the run still reports."""
    out = _run_patched(RAISE)
    assert out["correct"] is False
    assert out["attempted"] % 10 == 0  # every model of each pass
    assert out["failed"] >= 2  # bronze.documents and gold.corpus_chunks at least


def test_without_the_engine_the_runner_fails_without_a_result(tmp_path):
    (tmp_path / "perfbench").mkdir()
    for f in os.listdir(HERE):
        if f.endswith(".py"):
            (tmp_path / "perfbench" / f).write_bytes(open(os.path.join(HERE, f), "rb").read())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "medallion_etl", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
