"""The benchmark workloads.

Each workload is driven closed-loop by one client: the next op starts only
after the previous one returned. A workload has

- ``prepare()``: expected results from the generated inputs (DuckDB), before
  the session starts;
- ``setup()``: warm loads; set-up time is the median over several rounds
  of a session start plus this call;
- ``build()``: once, after the set-up rounds: any store the passes start from;
- ``run_pass(i)``: one timed pass; returns its :class:`PassResult`.
  Correctness checks run between ops or after the pass, outside op time.

Every call into an engine module is wrapped in a layer span named after
the module (``writers.materialize``, ``dedup.append``, ...), so the traced
run can split each op into layers and attribute Spark jobs to them.
"""

from __future__ import annotations

import os
import shutil
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

import gen
import oracle
from tracing import Tracer

@dataclass
class Op:
    kind: str
    cls: str  # append | read | maint | step
    seconds: float
    ok: bool = True
    error: str | None = None
    sid: int | None = None
    cpu_s: float = 0.0


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    inputs: str
    work: str
    seed: int
    scale: gen.Scale
    extra: dict = field(default_factory=dict)  # per-pass layer facts
    cpu: Callable[[], float] = lambda: 0.0  # CPU seconds used so far by the driver processes


@dataclass
class PassResult:
    ops: list[Op]
    seconds: float  # wall of the timed ops, checks excluded
    cpu_s: float  # CPU of the timed ops
    roots: list[int]  # spans whose Spark work is the pass's

    @classmethod
    def of_ops(cls, ops: list[Op]) -> "PassResult":
        return cls(
            ops,
            sum(op.seconds for op in ops),
            sum(op.cpu_s for op in ops),
            [op.sid for op in ops if op.sid is not None],
        )


def dir_bytes(root: str) -> int:
    total = 0
    for d, _, files in os.walk(root):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def dir_files(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[os.path.relpath(p, root)] = os.path.getsize(p)
    return out


def parquet_files(root: str) -> int:
    return sum(1 for f in dir_files(root) if f.endswith(".parquet"))


def timed_op(ctx: Ctx, kind: str, cls: str, fn) -> tuple[Op, object]:
    """Run ``fn`` as one op span; an exception marks the op failed."""
    result = None
    with ctx.tracer.op(f"op.{kind}", cls=cls) as sp:
        c0, t0 = ctx.cpu(), time.perf_counter()
        try:
            result = fn()
            err = None
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            err = traceback.format_exc(limit=8)
        seconds, cpu_s = time.perf_counter() - t0, ctx.cpu() - c0
    return Op(kind, cls, seconds, err is None, err, sp.sid, cpu_s), result


def fail(op: Op, why: str) -> None:
    if op.ok:
        op.ok, op.error = False, why


# ---------------------------------------------------------------------------
# medallion_etl
# ---------------------------------------------------------------------------


class MedallionEtl:
    """bronze (registry load + ingest metadata) -> silver (quality split,
    store_failures) -> gold (a6 pricing summary, g1 per-nation revenue, as
    ``sql_model`` SQL; the LLM training corpus, ``prepare_corpus`` with t13's
    parameters over bronze documents), each layer written with
    ``writers.materialize`` and run through ``plans.pipeline.Pipeline``."""

    name = "medallion_etl"
    tables = ("lineitem", "orders", "customer", "nation", "region", "documents")
    # every model of the pipeline; a step the report lacks (the pipeline
    # stops at a failed step) counts as a failed op
    models = tuple(f"bronze.{t}" for t in tables) + (
        "silver.lineitem",
        "gold.pricing_summary",
        "gold.nation_revenue",
        "gold.corpus_chunks",
    )

    def __init__(self, ctx: Ctx):
        self.ctx = ctx

    def prepare(self) -> None:
        self.expected = oracle.medallion_expected(self.ctx.inputs)
        self.expected["corpus_chunks"] = oracle.corpus_expected(os.path.join(self.ctx.inputs, "documents.parquet"))

    def setup(self) -> None:
        warm_loads(self.ctx, self.tables)

    def build(self) -> None:
        pass

    def _landed(self, df, path: str):
        from etl_hiscox_spark.sources.readers import read_parquet
        from etl_hiscox_spark.sources.writers import materialize

        tr = self.ctx.tracer
        with tr.span("writers.materialize"):
            materialize(df, path)
        with tr.span("readers.read"):
            return read_parquet(self.ctx.spark, path)

    def _bronze(self, table: str, out: str, batch: str):
        from etl_hiscox_spark.registry import load_table
        from etl_hiscox_spark.sources.readers import with_ingest_metadata

        def fn(spark, _outputs):
            tr = self.ctx.tracer
            with tr.span("pipeline.bronze"):
                with tr.span("registry.load_table"):
                    df = load_table(spark, table, self.ctx.inputs)
                with tr.span("readers.read"):
                    df = with_ingest_metadata(df, batch_id=batch)
                return self._landed(df, os.path.join(out, "bronze", table))

        return fn

    def _silver(self, out: str):
        from etl_hiscox_spark.queries.quality import lineitem_ruleset
        from etl_hiscox_spark.quality.engine import QualityEngine

        def fn(_spark, outputs):
            tr = self.ctx.tracer
            with tr.span("pipeline.silver"):
                bronze = outputs["bronze.lineitem"]
                engine, rules = QualityEngine(), lineitem_ruleset()
                with tr.span("quality.split"):
                    valid, _ = engine.split(bronze, rules)
                with tr.span("quality.store_failures"):
                    engine.store_failures(bronze, rules, os.path.join(out, "quarantine", "lineitem"))
                return self._landed(valid, os.path.join(out, "silver", "lineitem"))

        return fn

    def _gold(self, model, out: str):
        from etl_hiscox_spark.plans.pipeline import Model

        inner = model.fn

        def fn(spark, outputs):
            with self.ctx.tracer.span("pipeline.gold"):
                return self._landed(inner(spark, outputs), os.path.join(out, "gold", model.name.split(".")[1]))

        return Model(name=model.name, fn=fn, deps=model.deps)

    def _corpus(self, out: str):
        from etl_hiscox_spark.operators.caching import release_caches
        from etl_hiscox_spark.plans.llm_pipeline import prepare_corpus
        from etl_hiscox_spark.sources.readers import read_parquet
        from etl_hiscox_spark.sources.writers import materialize

        path = os.path.join(out, "gold", "corpus_chunks")

        def fn(spark, outputs):
            tr = self.ctx.tracer
            docs = outputs["bronze.documents"].select(*gen.DOC_COLUMNS)
            with tr.span("pipeline.gold"):
                with tr.span("llm_pipeline.prepare"):
                    res = prepare_corpus(docs, chunk_size=64, overlap=8, pack_budget=1024, count_stages=False)
                with tr.span("llm_pipeline.materialize"), tr.span("writers.materialize"):
                    materialize(res.chunks, path)
                release_caches(res.chunks)
                with tr.span("readers.read"):
                    return read_parquet(spark, path)

        return fn

    def pipeline(self, out: str, batch: str):
        from etl_hiscox_spark.plans.pipeline import Model, Pipeline, sql_model

        p = Pipeline(self.ctx.spark)
        for t in self.tables:
            p.add(Model(name=f"bronze.{t}", fn=self._bronze(t, out, batch)))
        p.add(Model(name="silver.lineitem", fn=self._silver(out), deps=("bronze.lineitem",)))
        p.add(
            self._gold(
                sql_model(
                    "gold.pricing_summary",
                    oracle.registered_oracle("a6_grouped_pricing_summary"),
                    deps=("silver.lineitem",),
                ),
                out,
            )
        )
        p.add(
            self._gold(
                sql_model(
                    "gold.nation_revenue",
                    oracle.registered_oracle("g1_star_join_revenue"),
                    deps=("silver.lineitem", "bronze.orders", "bronze.customer", "bronze.nation", "bronze.region"),
                ),
                out,
            )
        )
        p.add(Model(name="gold.corpus_chunks", fn=self._corpus(out), deps=("bronze.documents",)))
        return p

    def run_pass(self, i: int) -> PassResult:
        ctx = self.ctx
        out = os.path.join(ctx.work, "out", f"pass{i}")
        with ctx.tracer.op("op.pipeline.run") as run_span:
            c0, t0 = ctx.cpu(), time.perf_counter()
            report = self.pipeline(out, f"pass{i}").run()
            seconds, cpu_s = time.perf_counter() - t0, ctx.cpu() - c0
        steps = {step.name: step for step in report.steps}
        ops = []
        for name in self.models:
            step = steps.get(name)
            if step is None:
                ops.append(Op(name, "step", 0.0, False, "not run: the pipeline stopped at a failed step"))
                continue
            layer = name.split(".")[0]
            ops.append(Op(name, "step", step.seconds, step.status == "success", step.error))
            ctx.extra[f"pipeline.{layer}_s"] = ctx.extra.get(f"pipeline.{layer}_s", 0.0) + step.seconds
        self.check(out, {op.kind: op for op in ops}, self.expected)
        quarantine = os.path.join(out, "quarantine", "lineitem")
        ctx.extra["quality.quarantined_rows"] = _parquet_rows(quarantine)
        ctx.extra["writers.files_written"] = parquet_files(out)
        ctx.extra["writers.bytes_written"] = ctx.extra["bytes_written"] = dir_bytes(out)
        shutil.rmtree(out, ignore_errors=True)
        return PassResult(ops, seconds, cpu_s, [run_span.sid])

    def check(self, out: str, ops: dict[str, Op], exp: dict) -> None:
        """Outputs of the steps that ran against the DuckDB results."""
        silver = ops["silver.lineitem"]
        if silver.ok:
            rows = _parquet_rows(os.path.join(out, "silver", "lineitem"))
            if rows != exp["silver_rows"]:
                fail(silver, f"silver rows {rows} != {exp['silver_rows']}")
            if _parquet_rows(os.path.join(out, "quarantine", "lineitem")) != exp["quarantine_rows"]:
                fail(silver, "quarantine row count mismatch")
        for key in ("pricing_summary", "nation_revenue"):
            op = ops[f"gold.{key}"]
            if op.ok and not oracle.same_rows(_parquet_tuples(os.path.join(out, "gold", key)), exp[key]):
                fail(op, f"{key} differs from the DuckDB oracle")
        op = ops["gold.corpus_chunks"]
        if op.ok and not oracle.same_rows(corpus_shape(os.path.join(out, "gold", "corpus_chunks")), exp["corpus_chunks"]):
            fail(op, "per-split corpus shape differs from the t13 oracle")


def corpus_shape(path: str) -> list[tuple]:
    """t13's output shape of written chunks: (split, n_docs, n_chunks, n_tokens)."""
    import duckdb

    if not os.path.isdir(path):
        return []
    con = duckdb.connect()
    try:
        rows = con.execute(
            f"""SELECT split, COUNT(DISTINCT doc_id), COUNT(*), CAST(SUM(n_tokens) AS BIGINT)
            FROM read_parquet('{path}/*.parquet') GROUP BY split"""
        ).fetchall()
    finally:
        con.close()
    return sorted(tuple(r) for r in rows)


def _parquet_rows(path: str) -> int:
    if not os.path.isdir(path):
        return -1
    return pq.ParquetDataset(path).read().num_rows


def _parquet_tuples(path: str) -> list[tuple]:
    if not os.path.isdir(path):
        return []
    t = pq.ParquetDataset(path).read()
    return [tuple(r.values()) for r in t.to_pylist()]


def warm_loads(ctx: Ctx, tables) -> None:
    """Registry loads of every input table, each forced by a one-row read
    (set-up: warms the load path, the file listing and the scan code)."""
    from etl_hiscox_spark.registry import load_table

    for t in tables:
        with ctx.tracer.op("setup.load_table", table=t):
            with ctx.tracer.span("registry.load_table"):
                df = load_table(ctx.spark, t, ctx.inputs)
            df.limit(1).collect()


# ---------------------------------------------------------------------------
# store_churn
# ---------------------------------------------------------------------------

LSH_BANDS = 6
STORES = ("lsh", "ivf", "txn")


class StoreChurn:
    """A seeded mix of appends, reads and maintenance against three stores:
    an LSH index over ``documents``, an IVF index over ``embeddings`` and a
    ``TxnTable`` over ``events``. Every pass starts from the same store
    state, copied from a pristine build outside op time."""

    name = "store_churn"

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.lay = gen.churn_layout(ctx.scale)
        self.plan = gen.churn_plan(ctx.seed, ctx.scale)
        self.pristine = os.path.join(ctx.work, "pristine")
        ev = pq.read_table(os.path.join(ctx.inputs, "events.parquet"), columns=["event_id", "user_id", "value"])
        self.ev = {c: ev.column(c).to_numpy() for c in ev.column_names}
        emb = pq.read_table(os.path.join(ctx.inputs, "embeddings.parquet"))
        self.vecs = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False)).astype("float64")

    def prepare(self) -> None:
        probe_ids = sorted(
            {d for op in self.plan if op["kind"] == "lsh_probe" for d in op["doc_ids"]}
        )
        self.graph = oracle.jaccard_graph(
            os.path.join(self.ctx.inputs, "documents.parquet"), probe_ids, self.lay.docs_base + self.lay.docs_pool
        )

    # -- set-up ---------------------------------------------------------------

    def frames(self):
        from etl_hiscox_spark.registry import load_table

        spark, inputs, tr = self.ctx.spark, self.ctx.inputs, self.ctx.tracer
        frames = []
        for t in ("documents", "embeddings", "events"):
            with tr.span("registry.load_table"):
                frames.append(load_table(spark, t, inputs))
        frames[0] = frames[0].select("doc_id", "text")
        return tuple(frames)

    def setup(self) -> None:
        warm_loads(self.ctx, ("documents", "embeddings", "events"))

    def build(self) -> None:
        from pyspark.sql import functions as F

        from etl_hiscox_spark.concurrency import run_overlapped
        from etl_hiscox_spark.operators.dedup import write_minhash_index
        from etl_hiscox_spark.operators.similarity import write_ivf_index
        from etl_hiscox_spark.sources.txnlog import TxnTable

        docs, emb, events = self.frames()
        lay = self.lay
        shutil.rmtree(self.pristine, ignore_errors=True)
        cuts = np.linspace(0, lay.events_base, 4).astype(int)
        self.base_commits = [[(int(lo), int(hi))] for lo, hi in zip(cuts[:-1], cuts[1:])]

        def build_txn():
            table = TxnTable(self.ctx.spark, os.path.join(self.pristine, "txn"))
            for (lo, hi), in self.base_commits:
                table.write(events.filter((F.col("event_id") >= lo) & (F.col("event_id") < hi)))

        # the three stores are independent: build them concurrently (set-up
        # only; the timed ops run one at a time)
        with self.ctx.tracer.op("setup.build_stores"):
            run_overlapped(
                [
                    lambda: write_minhash_index(
                        docs.filter(F.col("doc_id") < lay.docs_base), "text", "doc_id",
                        os.path.join(self.pristine, "lsh"), num_hashes=24, num_bands=LSH_BANDS,
                    ),
                    lambda: write_ivf_index(
                        emb.filter(F.col("vec_id") < lay.vecs_base), os.path.join(self.pristine, "ivf"),
                        "embedding", "vec_id", centroids=self.vecs[: gen.IVF_LISTS],
                    ),
                    build_txn,
                ]
            )

    # -- one pass --------------------------------------------------------------

    def run_pass(self, i: int) -> PassResult:
        ctx = self.ctx
        root = os.path.join(ctx.work, "stores", f"pass{i}")
        shutil.rmtree(root, ignore_errors=True)
        with ctx.tracer.op("churn.restore"):
            shutil.copytree(self.pristine, root)
        state = ChurnState(self, root, i)
        ops = [state.run(n, spec) for n, spec in enumerate(self.plan)]
        state.final_check(ops)
        ctx.extra["bytes_written"] = sum(state.created.values())
        ctx.extra["store_bytes_end"] = sum(dir_bytes(os.path.join(root, s)) for s in STORES)
        ctx.extra.update(state.layer_facts())
        shutil.rmtree(root, ignore_errors=True)
        return PassResult.of_ops(ops)


class ChurnState:
    """The live model of the three stores during one pass, and the ops."""

    def __init__(self, wl: StoreChurn, root: str, pass_no: int):
        from etl_hiscox_spark.sources.txnlog import TxnTable

        self.wl, self.ctx = wl, wl.ctx
        self.lsh = os.path.join(root, "lsh")
        self.ivf = os.path.join(root, "ivf")
        self.root = root
        self.pass_no = pass_no
        self.table = TxnTable(self.ctx.spark, os.path.join(root, "txn"))
        lay = wl.lay
        self.live_docs = set(range(lay.docs_base))
        self.live_vecs = set(range(lay.vecs_base))
        self.versions: dict[int, list[tuple[int, int]]] = {v: r for v, r in enumerate(_cumulative(wl.base_commits))}
        self.expired: set[int] = set()
        # users erased from each written event range: erase_keys rewrites
        # every file written before it, rows written after it stay
        self.erased: dict[tuple[int, int], set[int]] = {r: set() for r in self.versions[self.head()]}
        self.docs, self.emb, self.events = wl.frames()
        self.stream_batches = 0
        self.foreach_s = 0.0
        self.await_s = 0.0
        self.start_files = self.store_files()
        self.created: dict[str, int] = {}  # every file a pass op wrote, even if later deleted

    def store_files(self) -> dict[str, int]:
        return {os.path.join(s, rel): size for s in STORES for rel, size in dir_files(os.path.join(self.root, s)).items()}

    def run(self, n: int, spec: dict) -> Op:
        op = getattr(self, spec["kind"])(n, spec)
        for path, size in self.store_files().items():
            if path not in self.start_files:
                self.created[path] = size
        return op

    # -- LSH ------------------------------------------------------------------

    def lsh_stream_append(self, n: int, spec: dict) -> Op:
        from etl_hiscox_spark.operators.dedup import write_minhash_index

        tr = self.ctx.tracer
        ids = spec["doc_ids"]
        src = os.path.join(self.root, "src", f"op{n}")
        ckpt = os.path.join(self.root, "ckpt", f"op{n}")
        _write_doc_files(self.wl, ids, src, spec["n_files"])
        app = f"churn-p{self.pass_no}-op{n}"
        parent = {"sid": None}
        calls = []

        def ingest(batch_df, batch_id):
            t0 = time.perf_counter()
            with tr.thread_span(parent["sid"], "streaming.foreach_batch"), tr.span("dedup.append"):
                write_minhash_index(
                    batch_df, "text", "doc_id", self.lsh, num_hashes=24, num_bands=LSH_BANDS,
                    mode="append", txn=(app, batch_id),
                )
            calls.append(time.perf_counter() - t0)

        def op():
            parent["sid"] = tr.current()
            with tr.span("streaming.await"):
                q = (
                    self.ctx.spark.readStream.schema("doc_id bigint, text string")
                    .option("maxFilesPerTrigger", 1)
                    .parquet(src)
                    .writeStream.foreachBatch(ingest)
                    .option("checkpointLocation", ckpt)
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()

        o, _ = timed_op(self.ctx, "lsh_stream_append", "append", op)
        self.stream_batches += len(calls)
        self.foreach_s += sum(calls)
        self.await_s += o.seconds
        if o.ok and len(calls) != spec["n_files"]:
            fail(o, f"stream ran {len(calls)} micro-batches, expected {spec['n_files']}")
        self.live_docs.update(ids)
        return o

    def lsh_probe(self, n: int, spec: dict) -> Op:
        from pyspark.sql import functions as F

        from etl_hiscox_spark.operators.caching import release_caches
        from etl_hiscox_spark.operators.dedup import probe_minhash_index

        ids = spec["doc_ids"]
        batch = self.docs.filter(F.col("doc_id").isin(ids))

        def op():
            with self.ctx.tracer.span("dedup.probe"):
                res = probe_minhash_index(batch, "text", "doc_id", self.lsh, verify_df=self.docs, threshold=0.8)
                rows = res.select("new_id", "dup_of", F.round("jaccard", 6)).collect()
                release_caches(res)
            return rows

        o, rows = timed_op(self.ctx, "lsh_probe", "read", op)
        if o.ok:
            want_ids = set(ids)
            want = [r for r in self.wl.graph if r[0] in want_ids and r[1] in self.live_docs]
            if not oracle.same_rows([tuple(r) for r in rows], want):
                fail(o, f"probe returned {len(rows)} pairs, oracle {len(want)}")
        return o

    def lsh_erase(self, n: int, spec: dict) -> Op:
        from pyspark.sql import functions as F

        from etl_hiscox_spark.operators.dedup import erase_from_minhash_index

        ids = spec["doc_ids"]
        keys = self.docs.filter(F.col("doc_id").isin(ids)).select("doc_id")

        def op():
            with self.ctx.tracer.span("dedup.erase"):
                return erase_from_minhash_index(self.ctx.spark, self.lsh, keys, "doc_id")

        o, erased = timed_op(self.ctx, "lsh_erase", "maint", op)
        expected = LSH_BANDS * len(self.live_docs & set(ids))
        if o.ok and erased != expected:
            fail(o, f"erased {erased} bucket rows, expected {expected}")
        self.live_docs.difference_update(ids)
        return o

    def index_compact(self, n: int, spec: dict) -> Op:
        """Compact both indexes, then vacuum their old generations."""
        from etl_hiscox_spark.operators.dedup import compact_minhash_index
        from etl_hiscox_spark.operators.similarity import compact_ivf_index
        from etl_hiscox_spark.sources.genlog import vacuum_generations

        spark, tr = self.ctx.spark, self.ctx.tracer

        def op():
            with tr.span("dedup.compact"):
                compact_minhash_index(spark, self.lsh)
            with tr.span("similarity.compact"):
                compact_ivf_index(spark, self.ivf)
            with tr.span("genlog.vacuum"):
                for r in (self.lsh, self.ivf):
                    vacuum_generations(spark, r, keep_last=1, min_age_seconds=0)

        o, _ = timed_op(self.ctx, "index_compact", "maint", op)
        return o

    # -- IVF ------------------------------------------------------------------

    def ivf_append(self, n: int, spec: dict) -> Op:
        from pyspark.sql import functions as F

        from etl_hiscox_spark.operators.similarity import append_to_ivf_index

        ids = spec["vec_ids"]
        batch = self.emb.filter(F.col("vec_id").isin(ids))

        def op():
            with self.ctx.tracer.span("similarity.append"):
                append_to_ivf_index(batch, self.ivf, "embedding", "vec_id")

        o, _ = timed_op(self.ctx, "ivf_append", "append", op)
        self.live_vecs.update(ids)
        return o

    def ivf_probe(self, n: int, spec: dict) -> Op:
        from etl_hiscox_spark.operators.similarity import ivf_probe_topk

        q = self.wl.vecs[spec["query_vec_id"]]

        def op():
            with self.ctx.tracer.span("similarity.probe"):
                return ivf_probe_topk(self.ctx.spark, self.ivf, None, "embedding", "vec_id", q.tolist(), k=10, n_probe=4).collect()

        o, rows = timed_op(self.ctx, "ivf_probe", "read", op)
        if o.ok:
            why = self.check_ivf_probe(q, [(r["vec_id"], r["cosine_sim"]) for r in rows])
            if why:
                fail(o, why)
        return o

    def check_ivf_probe(self, q: np.ndarray, got: list[tuple[int, float]]) -> str | None:
        """Top-10 by cosine over the live vectors of the probed lists, read
        from the index's own files; also checks the live id set."""
        from etl_hiscox_spark.operators.similarity import load_ivf_centroids
        from etl_hiscox_spark.sources.genlog import live_index_paths

        paths = live_index_paths(self.ctx.spark, self.ivf)
        centroids = load_ivf_centroids(self.ctx.spark, paths[0], resolved=True)
        ids, clusters = _ivf_lists(paths)
        if set(ids.tolist()) != self.live_vecs:
            return f"IVF live set has {len(ids)} ids, model {len(self.live_vecs)}"
        qn = q / np.linalg.norm(q)
        cn = centroids / np.clip(np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12, None)
        probe = set(int(p) for p in np.argsort(-(cn @ qn))[:4])
        cand = ids[np.isin(clusters, list(probe))]
        v = self.wl.vecs[cand]
        sims = (v @ q) / (np.linalg.norm(v, axis=1) * np.linalg.norm(q))
        order = np.lexsort((cand, -sims))[:10]
        want = [(int(cand[j]), float(sims[j])) for j in order]
        if [g[0] for g in got] != [w[0] for w in want]:
            return "IVF top-k ids differ from the probed lists' exact top-k"
        if any(abs(g[1] - w[1]) > 1e-9 for g, w in zip(got, want)):
            return "IVF top-k scores differ"
        return None

    def ivf_erase(self, n: int, spec: dict) -> Op:
        from pyspark.sql import functions as F

        from etl_hiscox_spark.operators.similarity import erase_from_ivf_index

        ids = spec["vec_ids"]
        keys = self.emb.filter(F.col("vec_id").isin(ids)).select("vec_id")

        def op():
            with self.ctx.tracer.span("similarity.erase"):
                return erase_from_ivf_index(self.ctx.spark, self.ivf, keys, "vec_id")

        o, erased = timed_op(self.ctx, "ivf_erase", "maint", op)
        expected = len(self.live_vecs & set(ids))
        if o.ok and erased != expected:
            fail(o, f"IVF erase removed {erased} rows, expected {expected}")
        self.live_vecs.difference_update(ids)
        return o

    # -- TxnTable ---------------------------------------------------------------

    def head(self) -> int:
        return max(self.versions)

    def txn_write(self, n: int, spec: dict) -> Op:
        from pyspark.sql import functions as F

        lo, hi = spec["event_range"]
        df = self.events.filter((F.col("event_id") >= lo) & (F.col("event_id") < hi))

        def op():
            with self.ctx.tracer.span("txnlog.write"):
                return self.table.write(df)

        o, v = timed_op(self.ctx, "txn_write", "append", op)
        want = self.head() + 1
        self.versions[want] = self.versions[want - 1] + [(lo, hi)]
        self.erased[(lo, hi)] = set()
        if o.ok and v != want:
            fail(o, f"write committed version {v}, expected {want}")
        return o

    def _read(self, kind: str, version: int | None) -> Op:
        from pyspark.sql import functions as F

        v = self.head() if version is None else version

        def op():
            with self.ctx.tracer.span("txnlog.read_head" if version is None else "txnlog.read_version"):
                df = self.table.read(version)
                return df.agg(F.count(F.lit(1)), F.sum("event_id"), F.sum("value")).collect()[0]

        o, row = timed_op(self.ctx, kind, "read", op)
        if o.ok:
            want = self.expected_agg(v)
            got = (row[0], row[1] or 0, row[2] or 0.0)
            if got[:2] != want[:2] or not np.isclose(got[2], want[2], rtol=1e-9):
                fail(o, f"read of v{v} gave {got}, expected {want}")
        return o

    def txn_read_head(self, n: int, spec: dict) -> Op:
        return self._read("txn_read_head", None)

    def txn_read_version(self, n: int, spec: dict) -> Op:
        readable = sorted(v for v in self.versions if v not in self.expired and v != self.head())
        v = readable[int(spec["version_pick"] * len(readable))]
        return self._read("txn_read_version", v)

    def expected_agg(self, v: int) -> tuple[int, int, float]:
        ev = self.wl.ev
        mask = np.zeros(ev["event_id"].size, bool)
        for lo, hi in self.versions[v]:
            mask[lo:hi] = ~np.isin(ev["user_id"][lo:hi], list(self.erased[(lo, hi)]))
        return int(mask.sum()), int(ev["event_id"][mask].sum()), float(ev["value"][mask].sum())

    def txn_erase(self, n: int, spec: dict) -> Op:
        users = spec["user_ids"]

        def op():
            with self.ctx.tracer.span("txnlog.erase"):
                return self.table.erase_keys("user_id", users)

        o, _ = timed_op(self.ctx, "txn_erase", "maint", op)
        for erased in self.erased.values():
            erased.update(users)
        return o

    def txn_maintain(self, n: int, spec: dict) -> Op:
        """Compact the table, expire all but the last versions, vacuum."""
        keep = spec["keep_last"]
        tr = self.ctx.tracer

        def op():
            with tr.span("txnlog.compact"):
                v = self.table.compact()
            with tr.span("txnlog.expire"):
                self.table.expire_versions(keep, min_age_seconds=0)
            with tr.span("txnlog.vacuum"):
                self.table.vacuum(min_age_seconds=0)
            return v

        o, v = timed_op(self.ctx, "txn_maintain", "maint", op)
        want = self.head() + 1
        self.versions[want] = self.versions[want - 1]
        self.expired.update(sorted(self.versions)[:-keep])
        if o.ok and v != want:
            fail(o, f"compact committed version {v}, expected {want}")
        return o

    # -- pass end ----------------------------------------------------------------

    def final_check(self, ops: list[Op]) -> None:
        """Store contents at pass end against the model; a mismatch fails
        the last op of the pass (it left the stores wrong)."""
        from etl_hiscox_spark.sources.genlog import live_index_paths

        docs = set()
        for p in live_index_paths(self.ctx.spark, self.lsh):
            docs |= set(pq.ParquetDataset(os.path.join(p, "buckets")).read(columns=["doc"]).column("doc").to_pylist())
        if docs != self.live_docs:
            fail(ops[-1], f"LSH index holds {len(docs)} docs, model {len(self.live_docs)}")
        ids, _ = _ivf_lists(live_index_paths(self.ctx.spark, self.ivf))
        if set(ids.tolist()) != self.live_vecs:
            fail(ops[-1], "IVF index live set differs from the model")

    def layer_facts(self) -> dict:
        from etl_hiscox_spark.sources.genlog import list_generations, live_index_paths

        spark = self.ctx.spark
        history = self.table.history()
        return {
            "genlog.commits": sum(len(list_generations(spark, r)) for r in (self.lsh, self.ivf)),
            "genlog.live_segments": sum(len(live_index_paths(spark, r)) for r in (self.lsh, self.ivf)),
            "txnlog.commits": len(history),
            "txnlog.data_files_live": len({f for m in history for f in m["files"]}),
            "streaming.batches": self.stream_batches,
            "streaming.foreach_batch_s": self.foreach_s,
            "streaming.idle_s": self.await_s - self.foreach_s,
        }


def _cumulative(commits: list[list[tuple[int, int]]]) -> list[list[tuple[int, int]]]:
    out, acc = [], []
    for c in commits:
        acc = acc + c
        out.append(acc)
    return out


def _write_doc_files(wl: StoreChurn, ids: list[int], out: str, n_files: int) -> None:
    """The stream source of one append op: the docs split over n files."""
    import pyarrow.compute as pc

    docs = pq.read_table(os.path.join(wl.ctx.inputs, "documents.parquet"), columns=["doc_id", "text"])
    sel = docs.filter(pc.is_in(docs.column("doc_id"), value_set=__import__("pyarrow").array(ids, "int64")))
    os.makedirs(out, exist_ok=True)
    for k, part in enumerate(np.array_split(np.arange(sel.num_rows), n_files)):
        pq.write_table(sel.take(part), os.path.join(out, f"part-{k}.parquet"))


def _ivf_lists(paths: list[str]) -> tuple[np.ndarray, np.ndarray]:
    """(vec_id, cluster) of every row in the live IVF segments."""
    ids, clusters = [], []
    for p in paths:
        for d in sorted(os.listdir(p)):
            if not d.startswith("__cluster="):
                continue
            k = int(d.split("=", 1)[1])
            t = pq.ParquetDataset(os.path.join(p, d)).read(columns=["vec_id"])
            ids.append(t.column("vec_id").to_numpy())
            clusters.append(np.full(t.num_rows, k))
    if not ids:
        return np.array([], "int64"), np.array([], "int64")
    return np.concatenate(ids), np.concatenate(clusters)


WORKLOADS = {w.name: w for w in (MedallionEtl, StoreChurn)}
