"""Metric catalog and the computation of each metric from one run.

``END_TO_END`` and ``PER_LAYER`` list every metric the benchmark emits, with
its unit and, for a per-layer metric, the end-to-end metric it should move
and on which workload (``moves``). A workload emits every metric; a layer
it does not exercise reads 0, which is also the prediction for a change to
that layer on that workload.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

import numpy as np

from tracing import SparkTotals, spark_totals

# name, unit, better. setup_s is the median of several set-up rounds (a
# session start plus the warm loads), run_s the wall time of the timed
# pass (a run times one; the median, were there several), bytes_written_mb
# the bytes a pass writes.
END_TO_END = (
    ("setup_s", "s", "lower"),
    ("run_s", "s", "lower"),
    ("bytes_written_mb", "MB", "lower"),
)

ALL = "all workloads"
MED, CHURN = "medallion_etl", "store_churn"

# name, unit, better, moves
PER_LAYER = (
    ("cpu_s", "s", "lower", f"run_s on {ALL}: CPU seconds of the Python and Spark driver processes in one pass"),
    ("session.start_s", "s", "lower", f"setup_s on {ALL}: the first session start, JVM launch included"),
    ("setup.build_s", "s", "lower", f"none on {ALL}: the {CHURN} store build, once before the first pass"),
    ("setup.warmup_s", "s", "lower", f"none on {ALL}: the traced run's untimed warm-up pass (first-use cost, which the timed pass of an untraced run includes)"),
    ("peak_rss_mb", "MB", "lower", f"none on {ALL}: driver JVM plus Python memory (spreads ~15-30% between runs, so not bounded)"),
    ("registry.load_table_s", "s", "lower", f"setup_s on {ALL}; churn.read_p50_s on {CHURN}"),
    ("registry.load_table_jobs", "count", "lower", f"setup_s on {ALL}; churn.read_p50_s on {CHURN}"),
    ("readers.read_s", "s", "lower", f"run_s and cpu_s on {MED}"),
    ("quality.split_s", "s", "lower", f"run_s and cpu_s on {MED}"),
    ("quality.jobs", "count", "lower", f"run_s and cpu_s on {MED}"),
    ("quality.quarantined_rows", "count", "higher", f"run_s and cpu_s on {MED} (a correctness count: moves only with the data)"),
    ("pipeline.bronze_s", "s", "lower", f"run_s and cpu_s on {MED}"),
    ("pipeline.silver_s", "s", "lower", f"run_s and cpu_s on {MED}"),
    ("pipeline.gold_s", "s", "lower", f"run_s and cpu_s on {MED}"),
    ("writers.materialize_s", "s", "lower", f"run_s and cpu_s on {MED}"),
    ("writers.files_written", "count", "lower", f"run_s and cpu_s on {MED}"),
    ("writers.bytes_written", "bytes", "lower", f"bytes_written_mb on {MED}"),
    ("llm_pipeline.prepare_s", "s", "lower", f"run_s and cpu_s on {MED} (gold.corpus_chunks)"),
    ("llm_pipeline.materialize_s", "s", "lower", f"run_s and cpu_s on {MED} (gold.corpus_chunks)"),
    ("dedup.append_s", "s", "lower", f"churn.append_p50_s on {CHURN}; none on {MED} (its corpus dedup runs in memory)"),
    ("dedup.erase_s", "s", "lower", f"churn.maint_p50_s on {CHURN}; none on {MED} (its corpus dedup runs in memory)"),
    ("dedup.compact_s", "s", "lower", f"churn.maint_p50_s on {CHURN}; none on {MED} (its corpus dedup runs in memory)"),
    ("dedup.probe_s", "s", "lower", f"churn.read_p50_s on {CHURN}; none on {MED} (its corpus dedup runs in memory)"),
    ("dedup.jobs_per_op", "count", "lower", f"run_s and cpu_s on {CHURN}; none on {MED} (its corpus dedup runs in memory)"),
    ("similarity.append_s", "s", "lower", f"churn.append_p50_s on {CHURN}"),
    ("similarity.erase_s", "s", "lower", f"churn.maint_p50_s on {CHURN}"),
    ("similarity.compact_s", "s", "lower", f"churn.maint_p50_s on {CHURN}"),
    ("similarity.probe_s", "s", "lower", f"churn.read_p50_s on {CHURN}"),
    ("similarity.jobs_per_op", "count", "lower", f"run_s and cpu_s on {CHURN}"),
    ("genlog.head_resolve_s", "s", "lower", f"churn.read_p50_s on {CHURN}"),
    ("genlog.head_resolves", "count", "lower", f"churn.read_p50_s on {CHURN}"),
    ("genlog.vacuum_s", "s", "lower", f"churn.maint_p50_s on {CHURN}"),
    ("genlog.commits", "count", "lower", f"churn.store_mb_end on {CHURN}"),
    ("genlog.live_segments", "count", "lower", f"churn.store_mb_end on {CHURN}"),
    ("txnlog.write_s", "s", "lower", f"churn.append_p50_s on {CHURN}"),
    ("txnlog.read_head_s", "s", "lower", f"churn.read_p50_s on {CHURN}"),
    ("txnlog.read_version_s", "s", "lower", f"churn.read_p50_s on {CHURN}"),
    ("txnlog.latest_version_s", "s", "lower", f"churn.read_p50_s on {CHURN}"),
    ("txnlog.erase_s", "s", "lower", f"churn.maint_p50_s on {CHURN}"),
    ("txnlog.compact_s", "s", "lower", f"churn.maint_p50_s on {CHURN}"),
    ("txnlog.expire_s", "s", "lower", f"churn.maint_p50_s on {CHURN}"),
    ("txnlog.vacuum_s", "s", "lower", f"churn.maint_p50_s on {CHURN}"),
    ("txnlog.commits", "count", "lower", f"churn.store_mb_end on {CHURN}"),
    ("txnlog.data_files_live", "count", "lower", f"churn.store_mb_end on {CHURN}"),
    ("streaming.batches", "count", "lower", f"churn.append_p50_s on {CHURN}"),
    ("streaming.foreach_batch_s", "s", "lower", f"churn.append_p50_s on {CHURN}"),
    ("streaming.idle_s", "s", "lower", f"churn.append_p50_s on {CHURN}"),
    ("churn.append_p50_s", "s", "lower", f"run_s and cpu_s on {CHURN}"),
    ("churn.read_p50_s", "s", "lower", f"run_s and cpu_s on {CHURN}"),
    ("churn.maint_p50_s", "s", "lower", f"run_s and cpu_s on {CHURN}"),
    ("churn.op_p90_s", "s", "lower", f"run_s and cpu_s on {CHURN}"),
    ("churn.store_mb_end", "MB", "lower", f"bytes_written_mb on {CHURN}"),
    ("spark.jobs", "count", "lower", f"run_s and cpu_s on {ALL}"),
    ("spark.stages", "count", "lower", f"run_s and cpu_s on {ALL}"),
    ("spark.tasks", "count", "lower", f"run_s and cpu_s on {ALL}"),
    ("spark.tiny_jobs", "count", "lower", f"churn.maint_p50_s and churn.append_p50_s on {CHURN}; none on {MED}"),
    ("spark.tiny_job_share", "fraction", "lower", f"churn.maint_p50_s and churn.append_p50_s on {CHURN}; none on {MED}"),
    ("spark.job_s", "s", "lower", f"run_s and cpu_s on {ALL}"),
    ("spark.driver_gap_s", "s", "lower", f"churn.maint_p50_s and churn.append_p50_s on {CHURN}; run_s on {ALL}"),
    ("spark.executor_run_s", "s", "lower", f"run_s and cpu_s on {MED}"),
    ("spark.executor_cpu_s", "s", "lower", f"run_s and cpu_s on {MED}"),
    ("spark.shuffle_read_bytes", "bytes", "lower", f"run_s and cpu_s on {MED}"),
    ("spark.shuffle_write_bytes", "bytes", "lower", f"run_s and cpu_s on {MED}"),
    ("spark.spill_bytes", "bytes", "lower", f"run_s and cpu_s on {MED}"),
    ("spark.jvm_gc_s", "s", "lower", f"churn.op_p90_s on {CHURN}; peak_rss_mb and cpu_s on {ALL}"),
    ("spark.task_failures", "count", "lower", f"failed_op_share on {ALL}"),
    ("spark.unattributed_jobs", "count", "lower", "none (the trace must attribute every job)"),
    ("failed_op_share", "fraction", "lower", f"none on {ALL}: any value above 0 is a defect"),
    ("trace.overhead_share", "fraction", "lower", "none (cost of tracing itself, less the JVM's warming between the two passes)"),
)

UNITS = {name: unit for name, unit, *_ in END_TO_END + PER_LAYER}

# per-op span medians: metric -> span name
OP_MEDIAN = {
    "dedup.append_s": "dedup.append",
    "dedup.erase_s": "dedup.erase",
    "dedup.compact_s": "dedup.compact",
    "dedup.probe_s": "dedup.probe",
    "similarity.append_s": "similarity.append",
    "similarity.erase_s": "similarity.erase",
    "similarity.compact_s": "similarity.compact",
    "similarity.probe_s": "similarity.probe",
    "genlog.vacuum_s": "genlog.vacuum",
    "txnlog.write_s": "txnlog.write",
    "txnlog.read_head_s": "txnlog.read_head",
    "txnlog.read_version_s": "txnlog.read_version",
    "txnlog.latest_version_s": "txnlog.latest_version",
    "txnlog.erase_s": "txnlog.erase",
    "txnlog.compact_s": "txnlog.compact",
    "txnlog.expire_s": "txnlog.expire",
    "txnlog.vacuum_s": "txnlog.vacuum",
    "registry.load_table_s": "registry.load_table",
}
# per-pass sums of span wall: metric -> span name
PASS_SUM = {
    "readers.read_s": "readers.read",
    "quality.split_s": "quality.split",
    "writers.materialize_s": "writers.materialize",
    "llm_pipeline.prepare_s": "llm_pipeline.prepare",
    "llm_pipeline.materialize_s": "llm_pipeline.materialize",
    "genlog.head_resolve_s": "genlog.head_resolve",
}
# per-pass facts a workload reports itself
FACTS = (
    "quality.quarantined_rows",
    "pipeline.bronze_s",
    "pipeline.silver_s",
    "pipeline.gold_s",
    "writers.files_written",
    "writers.bytes_written",
    "genlog.commits",
    "genlog.live_segments",
    "txnlog.commits",
    "txnlog.data_files_live",
    "streaming.batches",
    "streaming.foreach_batch_s",
    "streaming.idle_s",
)


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def end_to_end(passes: list[dict], setup_s: float) -> dict[str, float]:
    """``passes``: one dict per timed pass with ``ops`` (Op records),
    ``seconds``, ``cpu_s`` and ``facts``."""
    return {
        "setup_s": setup_s,
        "run_s": median(p["seconds"] for p in passes),
        "bytes_written_mb": median(p["facts"].get("bytes_written", 0) for p in passes) / 1e6,
    }


def per_layer(
    tracer, jobs, passes: list[dict], setup: dict[str, float], peak_rss_mb: float, unattributed: int, overhead: float
) -> dict[str, float]:
    """Per-layer metrics of the traced passes. ``passes`` as for
    :func:`end_to_end`, plus ``sid`` (the pass span) and ``roots`` (the
    spans whose Spark work belongs to the pass)."""
    out: dict[str, float] = {name: 0.0 for name, *_ in PER_LAYER}
    pass_ids = {p["sid"] for p in passes}
    in_pass: dict[int, int] = {}  # span id -> pass span id
    for p in passes:
        in_pass[p["sid"]] = p["sid"]
        for s in tracer.descendants(p["sid"]):
            in_pass[s.sid] = p["sid"]
    spans = [s for s in tracer.spans if s.sid in in_pass]
    by_name: dict[str, list] = defaultdict(list)
    for s in spans:
        by_name[s.name].append(s)

    for metric, name in OP_MEDIAN.items():
        out[metric] = median(s.wall for s in by_name.get(name, []))
    for metric, name in PASS_SUM.items():
        sums = {pid: 0.0 for pid in pass_ids}
        for s in by_name.get(name, []):
            sums[in_pass[s.sid]] += s.wall
        out[metric] = median(sums.values())
    out["genlog.head_resolves"] = median(
        sum(1 for s in by_name.get("genlog.head_resolve", []) if in_pass[s.sid] == pid) for pid in pass_ids
    )
    for fact in FACTS:
        out[fact] = median(p["facts"].get(fact, 0) for p in passes)

    # load_table outside the passes too: the set-up's warm loads
    loads = [s for s in tracer.spans if s.name == "registry.load_table"]
    out["registry.load_table_s"] = median(s.wall for s in loads)
    out["registry.load_table_jobs"] = _jobs_under(tracer, jobs, loads) / len(loads) if loads else 0.0
    out["quality.jobs"] = median(
        _jobs_under(tracer, jobs, [s for s in spans if s.name.startswith("quality.") and in_pass[s.sid] == pid])
        for pid in pass_ids
    )
    for layer in ("dedup", "similarity"):
        layer_ops = [s for s in spans if s.name.startswith(layer + ".")]
        out[f"{layer}.jobs_per_op"] = _jobs_under(tracer, jobs, layer_ops) / len(layer_ops) if layer_ops else 0.0

    churn_ops = [op for p in passes for op in p["ops"] if op.cls != "step"]
    for cls in ("append", "read", "maint"):
        out[f"churn.{cls}_p50_s"] = median(op.seconds for op in churn_ops if op.cls == cls)
    out["churn.op_p90_s"] = float(np.percentile([op.seconds for op in churn_ops], 90)) if churn_ops else 0.0
    out["churn.store_mb_end"] = median(p["facts"].get("store_bytes_end", 0) for p in passes) / 1e6

    # Spark totals summed over the passes' op spans, median over passes
    per_pass: list[SparkTotals] = []
    for p in passes:
        t = SparkTotals()
        for sid in p["roots"]:
            part = spark_totals(tracer, jobs, tracer.spans[sid])
            for f in t.__dataclass_fields__:
                setattr(t, f, getattr(t, f) + getattr(part, f))
        per_pass.append(t)
    for f in SparkTotals.__dataclass_fields__:
        out[f"spark.{f}"] = median(getattr(t, f) for t in per_pass)
    out["spark.tiny_job_share"] = median(t.tiny_job_share for t in per_pass)
    out["spark.unattributed_jobs"] = unattributed
    out["cpu_s"] = median(p["cpu_s"] for p in passes)
    out.update(setup)  # session.start_s, setup.build_s, setup.warmup_s
    out["peak_rss_mb"] = peak_rss_mb
    attempted = sum(len(p["ops"]) for p in passes)
    out["failed_op_share"] = sum(not op.ok for p in passes for op in p["ops"]) / max(attempted, 1)
    out["trace.overhead_share"] = overhead
    return out


def _jobs_under(tracer, jobs, roots) -> int:
    ids = set()
    for r in roots:
        ids.add(r.sid)
        ids.update(s.sid for s in tracer.descendants(r.sid))
    return sum(1 for j in jobs if j.span in ids)
