"""Benchmark runner: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload store_churn --seed 1 --seconds 1 --trace 0

``PERFBENCH_SCALE=sf0.01`` runs the same workloads on a tenth of the rows
(the smoke tests use it).

Run from the root of a checkout. The runner generates the workload's inputs
from ``--seed`` under ``.perfbench/`` (so the engine sees only generated
files) and computes the expected results with DuckDB. It then sets up
``SETUP_ROUNDS`` times (a Spark session start on ``local[4]`` and the
workload's warm loads; ``setup_s`` is the median round), builds the stores
the passes start from, then runs timed passes until ``--seconds`` of op
time is spent (at least one; ``run_s`` is their median) and checks every
op. There is no warm-up pass: a run is one fresh process, and the first
pass after set-up pays the first-use cost (JIT, code generation, Python
workers) that a job started anew pays on every run. A warm-up pass would
add 20-35 s to every run at sf0.1 on 4 vCPUs. ``BENCHMARK.json`` sets
``--seconds`` to 1, below the shortest pass, so every run times exactly
one pass: a second pass would run warm and shift the median.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` starts the one
session of the run (a single set-up round) with the Spark event log on,
runs the same build, an untimed warm-up pass and untraced passes (for
half of ``--seconds``; their median is the baseline of
``trace.overhead_share``), then records layer spans (including the
engine's own head-resolution calls) in traced passes for ``--seconds`` in
the same session, and prints their per-layer metrics. The event log is on
for both kinds of pass, so the overhead share is that of the spans, less
what the JVM still warms up between the untraced and the traced pass (it
can read below 0).

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed``, ``metrics``. Every run also writes a result file with the
per-op and per-span detail to ``.perfbench/results/``, named by workload,
seed, cores, source digest and start time, so runs never overwrite
each other.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 4
DRIVER_MEM = "2g"  # bounds the driver JVM's heap; the default 8g lets RSS wander
SCALE = os.environ.get("PERFBENCH_SCALE", "sf0.1")
SETUP_ROUNDS = 4  # the first also starts the JVM, so the median lies between two warm rounds
WORKLOADS = ("medallion_etl", "store_churn")


def log(msg: str) -> None:
    print(f"perfbench {time.time() - T_START:7.2f}s {msg}", file=sys.stderr, flush=True)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def source_digest() -> str:
    """Digest of the engine's sources: the commit identity of a checkout
    that is not a git repository."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "etl_hiscox_spark")
    for d, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:12]


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) of ``root`` and its live descendants,
    including what each has collected from its exited children."""
    kids: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        stats[int(d)] = fields
        kids.setdefault(int(fields[1]), []).append(int(d))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            total += sum(int(x) for x in stats[pid][11:15])  # utime stime cutime cstime
        todo.extend(kids.get(pid, []))
    return total / os.sysconf("SC_CLK_TCK")


class Session:
    """The Spark session of one run, with its scratch directories."""

    def __init__(self, work: str):
        self.work = work
        self.tmp = os.path.join(work, "tmp")
        os.makedirs(self.tmp, exist_ok=True)
        self.spark = None

    def conf(self) -> dict[str, str]:
        return {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # temp files inside the checkout; no hsperfdata file in /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
        }

    def start(self, extra: dict[str, str] | None = None):
        from etl_hiscox_spark.session import get_spark

        conf = self.conf()
        conf.update(extra or {})
        self.spark = get_spark("perfbench", master=f"local[{CPUS}]", shuffle_partitions=CPUS, extra_conf=conf)
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        return proc.pid if proc is not None else None

    def shutdown_jvm(self) -> None:
        """Stop the gateway JVM and wait for it (and its Python workers)."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may already be gone
            pass
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - escalate below
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


def run_passes(wl, ctx, seconds: float, first: int, label: str) -> list[dict]:
    """Timed passes until ``seconds`` of op time is spent (at least one)."""
    passes: list[dict] = []
    spent = 0.0
    i = first
    while spent < seconds:
        ctx.extra = {}
        with ctx.tracer.op("pass", phase=label, i=i) as sp:
            res = wl.run_pass(i)
        passes.append(
            {
                "sid": sp.sid,
                "ops": res.ops,
                "seconds": res.seconds,
                "cpu_s": res.cpu_s,
                "roots": res.roots,
                "facts": dict(ctx.extra),
            }
        )
        spent += res.seconds
        log(f"{label} pass {i}: {res.seconds:.2f}s, {res.cpu_s:.2f} cpu-s, {sum(not op.ok for op in res.ops)} failed ops")
        i += 1
    return passes


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "etl_hiscox_spark", "session.py")):
        print(f"perfbench: no engine sources under {ROOT}; run from the root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    import gen
    import metrics
    import workloads
    from tracing import Tracer, attribute, event_log_conf, parse_event_log

    digest = source_digest()
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, "work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    session = Session(work)
    os.environ["TMPDIR"] = session.tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    import tempfile

    tempfile.tempdir = None

    try:
        t0 = time.time()
        sizes = gen.generate(inputs, args.seed, SCALE, args.workload)
        tracer = Tracer(layers=False)
        ctx = workloads.Ctx(None, tracer, inputs, work, args.seed, gen.SCALES[SCALE])
        wl = workloads.WORKLOADS[args.workload](ctx)
        wl.prepare()
        log(f"inputs and expected results ready ({time.time() - t0:.2f}s)")

        # set-up, SETUP_ROUNDS times: a Spark session start (the first one
        # also starts the JVM) and the workload's warm loads; setup_s is
        # the median round. The traced run prints no setup_s and keeps its
        # one session, whose event log covers every job of the run.
        log_dir = os.path.join(work, "eventlog")
        extra = event_log_conf(log_dir) if args.trace else None
        if args.trace:
            os.makedirs(log_dir)
        rounds = []
        for k in range(1 if args.trace else SETUP_ROUNDS):
            with tracer.op("setup", round=k):
                t_round = time.time()
                session.stop()
                ctx.spark = session.start(extra)
                if k == 0:
                    session_start_s = time.time() - t_round
                wl.setup()
                rounds.append(time.time() - t_round)
        setup_s = metrics.median(rounds)
        ctx.cpu = lambda: tree_cpu_s(os.getpid())
        with tracer.op("build"):
            t_build = time.time()
            wl.build()
            build_s = time.time() - t_build
        # only the traced run warms up: its untraced and traced passes must
        # both run past first use for trace.overhead_share to compare them
        warm = None
        if args.trace:
            with tracer.op("warmup"):
                warm = wl.run_pass(-1)
        log(
            f"set-up rounds {', '.join(f'{r:.2f}s' for r in rounds)} (setup_s {setup_s:.2f}); "
            f"build {build_s:.2f}s; warm-up pass {f'{warm.seconds:.2f}s' if warm else 'none'}"
        )
        warm_ops = warm.ops if warm else []
        warm_failed = sum(not op.ok for op in warm_ops)

        budget = args.seconds / 2 if args.trace else args.seconds
        passes = run_passes(wl, ctx, budget, 0, "timed")
        metric_values = metrics.end_to_end(passes, setup_s)
        ops = [op for p in passes for op in p["ops"]]
        detail: dict = {}
        if args.trace:
            untraced_run_s = metrics.median(p["seconds"] for p in passes)
            tracer.layers = True
            _wrap_engine(tracer)
            passes = run_passes(wl, ctx, args.seconds, 100, "traced")
            jvm = session.jvm_pid()
            rss = vm_hwm_mb("self") + (vm_hwm_mb(jvm) if jvm else 0.0)
            session.stop()
            jobs = parse_event_log(log_dir)
            unattributed = attribute(jobs, tracer.spans)
            ops += [op for p in passes for op in p["ops"]]
            traced_run_s = metrics.median(p["seconds"] for p in passes)
            metric_values = metrics.per_layer(
                tracer,
                jobs,
                passes,
                {"session.start_s": session_start_s, "setup.build_s": build_s, "setup.warmup_s": warm.seconds},
                rss,
                len(unattributed),
                traced_run_s / untraced_run_s - 1.0,
            )
            detail["unattributed_jobs"] = [j.__dict__ for j in unattributed]
            detail["jobs"] = [j.__dict__ for j in jobs]

        attempted = len(ops)
        failed = sum(not op.ok for op in ops)
        result = {
            "correct": failed == 0 and warm_failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(v), "unit": metrics.UNITS[k]} for k, v in metric_values.items()},
        }
        detail["spans"] = [
            {"sid": s.sid, "name": s.name, "parent": s.parent, "start": s.start, "end": s.end, "attrs": s.attrs}
            for s in tracer.spans
        ]
        _save(base, args, digest, result, sizes, passes, warm_ops, detail)
        print(json.dumps(result))
        return 0
    finally:
        session.stop()
        session.shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)


def _wrap_engine(tracer) -> None:
    """Layer spans around engine calls the workloads do not make directly."""
    from etl_hiscox_spark.sources import genlog
    from etl_hiscox_spark.sources.txnlog import TxnTable

    tracer.wrap(genlog, "current_generation", "genlog.head_resolve")
    tracer.wrap(TxnTable, "latest_version", "txnlog.latest_version")


def _save(base, args, digest, result, sizes, passes, warm_ops, detail) -> None:
    out = os.path.join(base, "results")
    os.makedirs(out, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime(T_START))
    name = f"{args.workload}-s{args.seed}-c{CPUS}-{digest}-t{args.trace}-{stamp}-{os.getpid()}.json"
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "cpus": CPUS,
        "source_digest": digest,
        "trace": args.trace,
        "seconds": args.seconds,
        "scale": SCALE,
        "client": "closed loop, 1 client",
        "inputs": sizes,
        "result": result,
        "warmup_ops": [op.__dict__ for op in warm_ops],
        "passes": [
            {"seconds": p["seconds"], "cpu_s": p["cpu_s"], "facts": p["facts"], "ops": [op.__dict__ for op in p["ops"]]}
            for p in passes
        ],
        **detail,
    }
    with open(os.path.join(out, name), "w") as f:
        json.dump(record, f, default=str)


if __name__ == "__main__":
    sys.exit(main())
