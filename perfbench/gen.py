"""Seeded input generator for the benchmark workloads.

Every input is a pure function of ``(seed, scale)``: one numpy ``PCG64``
stream per table, parquet written by pyarrow with fixed writer settings, so
the same seed gives byte-identical files. The tables follow the shapes and
column types of the engine's TPC-H-ish testdata (``registry._TESTDATA_DDL``),
so ``registry.load_table`` reads them with its pinned schemas.

What the seed controls:

- ``lineitem``: which ~2% of rows carry a defect, and of which kind
  (null key, quantity or discount out of range, unknown return flag,
  price inconsistent with quantity) — the rows ``lineitem_ruleset``
  quarantines;
- ``documents``: a ~10% sample that receives exact copies and
  near-duplicates (the source text plus one appended word, so every
  near pair has Jaccard >= 0.98 and no pair sits near the 0.8 threshold);
- the arguments of every ``store_churn`` op (:func:`churn_plan`): every key,
  slice, query vector and version choice.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key "
    "query a scan batch of and to is in it for with"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
EVENT_TYPES = ("view", "click", "purchase", "error", "login")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
EPOCH_1992_US = 694_224_000_000_000  # 1992-01-01 in µs
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01 in µs
DAY_US = 86_400_000_000


@dataclass(frozen=True)
class Scale:
    """Row counts of one input size."""

    customers: int
    orders: int
    lines: int
    docs: int
    vectors: int
    events: int
    corpus_docs: int  # medallion_etl's documents (store_churn uses ``docs``)


SCALES = {
    # sf0.1 shapes (documents 5k, embeddings 2k x 64, events 100k), except
    # that the medallion tables are a quarter (lineitem 150k, orders 37.5k,
    # customer 3.75k) and its corpus has 60 base docs: a run of each
    # workload has to fit well under a minute, and prepare_corpus costs
    # about as much on 20 docs as on 300 (its ~78 Spark jobs set the time)
    "sf0.1": Scale(3_750, 37_500, 150_000, 5_000, 2_000, 100_000, 60),
    "sf0.01": Scale(1_500, 15_000, 60_000, 1_000, 600, 10_000, 30),
}
DIM = 64
IVF_LISTS = 16
DEFECT_SHARE = 0.02
DUP_SHARE = 0.10


def _rng(seed: int, table: str) -> np.random.Generator:
    salt = int.from_bytes(hashlib.sha256(table.encode()).digest()[:8], "little")
    return np.random.Generator(np.random.PCG64([seed, salt]))


def _write(table: pa.Table, path: str) -> None:
    # one row group, fixed codec, no pandas metadata: byte-stable output
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 30)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _text(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n_words))


def gen_dimensions(out: str, seed: int, sc: Scale) -> None:
    _write(
        pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": list(REGIONS),
            }
        ),
        os.path.join(out, "region.parquet"),
    )
    _write(
        pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        os.path.join(out, "nation.parquet"),
    )
    rng = _rng(seed, "customer")
    n = sc.customers
    _write(
        pa.table(
            {
                "c_custkey": pa.array(np.arange(n), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n)],
                "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
                "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
                "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)],
            }
        ),
        os.path.join(out, "customer.parquet"),
    )
    rng = _rng(seed, "orders")
    n = sc.orders
    _write(
        pa.table(
            {
                "o_orderkey": pa.array(np.arange(n), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, sc.customers, n), pa.int64()),
                "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
                "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, n), 2),
                "o_orderdate": _ts(EPOCH_1992_US + rng.integers(0, 3500, n) * DAY_US),
                "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)],
            }
        ),
        os.path.join(out, "orders.parquet"),
    )


def gen_lineitem(out: str, seed: int, sc: Scale) -> int:
    """Clean TPC-H-ish rows plus seeded defects; returns the defect count."""
    rng = _rng(seed, "lineitem")
    n = sc.lines
    qty = rng.integers(1, 46, n).astype("float64")
    # price per unit 1000..2100 keeps l_extendedprice > l_quantity * 900
    price = np.round(qty * rng.uniform(1000.0, 2100.0, n), 2)
    disc = rng.integers(0, 9, n) / 100.0
    flag = np.array(["A", "N"])[rng.integers(0, 2, n)].astype(object)
    orderkey = rng.integers(0, sc.orders, n).astype(object)
    bad = np.flatnonzero(rng.random(n) < DEFECT_SHARE)
    kind = rng.integers(0, 5, bad.size)
    orderkey[bad[kind == 0]] = None
    qty[bad[kind == 1]] = rng.integers(46, 60, int((kind == 1).sum()))
    price[bad[kind == 1]] = np.round(qty[bad[kind == 1]] * 2200.0, 2)
    disc[bad[kind == 2]] = 0.1
    flag[bad[kind == 3]] = "R"
    price[bad[kind == 4]] = np.round(qty[bad[kind == 4]] * 500.0, 2)
    _write(
        pa.table(
            {
                "l_orderkey": pa.array(orderkey, pa.int64()),
                "l_partkey": pa.array(rng.integers(0, 20_000, n), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, 1_000, n), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
                "l_quantity": qty,
                "l_extendedprice": price,
                "l_discount": disc,
                "l_tax": rng.integers(0, 9, n) / 100.0,
                "l_returnflag": pa.array(flag, pa.string()),
                "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
                "l_shipdate": _ts(EPOCH_1992_US + rng.integers(0, 3600, n) * DAY_US),
            }
        ),
        os.path.join(out, "lineitem.parquet"),
    )
    return int(bad.size)


def gen_documents(out: str, seed: int, sc: Scale, n_base: int | None = None, salt: str = "documents") -> None:
    """Base docs, then exact and near copies of a seeded ~10% sample; the
    copies take the ids after the base docs."""
    rng = _rng(seed, salt)
    n_base = n_base or sc.docs
    texts = [_text(rng, int(k)) for k in rng.integers(12, 100, n_base)]
    # near copies only of docs with >= 60 words: one appended word moves
    # Jaccard to >= 58/59, far above the 0.8 threshold, so exact and
    # banded dedup agree
    long_ids = [i for i, t in enumerate(texts) if t.count(" ") >= 59]
    n_dup = int(n_base * DUP_SHARE)
    src = rng.choice(long_ids, size=n_dup, replace=False)
    for j, i in enumerate(src):
        texts.append(texts[i] if j % 2 == 0 else texts[i] + " " + VOCAB[j % len(VOCAB)])
    n = len(texts)
    _write(
        pa.table(
            {
                "doc_id": pa.array(np.arange(n), pa.int64()),
                "text": texts,
                "lang": np.array(LANGS)[rng.integers(0, 5, n)],
                "source": [f"src{i % 20}" for i in range(n)],
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        os.path.join(out, "documents.parquet"),
    )


def gen_embeddings(out: str, seed: int, sc: Scale) -> None:
    rng = _rng(seed, "embeddings")
    n = sc.vectors
    centers = rng.normal(0.0, 1.0, (8, DIM))
    label = rng.integers(0, 8, n)
    vec = (centers[label] + rng.normal(0.0, 0.6, (n, DIM))).astype("float32")
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(
        pa.table(
            {
                "vec_id": pa.array(np.arange(n), pa.int64()),
                "embedding": pa.array(list(vec), pa.list_(pa.float32())),
                "label": pa.array(label, pa.int32()),
            }
        ),
        os.path.join(out, "embeddings.parquet"),
    )


def gen_events(out: str, seed: int, sc: Scale) -> None:
    rng = _rng(seed, "events")
    n = sc.events
    _write(
        pa.table(
            {
                "event_id": pa.array(np.arange(n), pa.int64()),
                "ts": _ts(EPOCH_2024_US + np.sort(rng.integers(0, 30 * DAY_US, n))),
                "user_id": pa.array(rng.integers(0, 1_500, n), pa.int64()),
                "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
                "value": np.round(rng.gamma(2.0, 40.0, n), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
            }
        ),
        os.path.join(out, "events.parquet"),
    )


def gen_corpus(out: str, seed: int, sc: Scale) -> None:
    gen_documents(out, seed, sc, sc.corpus_docs)


DOC_COLUMNS = ("doc_id", "text", "lang", "source", "n_chars")
TABLES = {
    "medallion_etl": ("dimensions", "lineitem", "corpus"),
    "store_churn": ("documents", "embeddings", "events"),
}
_GENERATORS = {
    "dimensions": gen_dimensions,
    "lineitem": gen_lineitem,
    "documents": gen_documents,
    "corpus": gen_corpus,
    "embeddings": gen_embeddings,
    "events": gen_events,
}


def generate(out: str, seed: int, scale: str, workload: str) -> dict[str, dict]:
    """Write the workload's inputs under ``out``; returns rows and bytes per
    table file."""
    os.makedirs(out, exist_ok=True)
    sc = SCALES[scale]
    for group in TABLES[workload]:
        _GENERATORS[group](out, seed, sc)
    sizes = {}
    for name in sorted(os.listdir(out)):
        path = os.path.join(out, name)
        sizes[name.removesuffix(".parquet")] = {
            "rows": pq.ParquetFile(path).metadata.num_rows,
            "bytes": os.path.getsize(path),
        }
    return sizes


# ---------------------------------------------------------------------------
# store_churn op plan
# ---------------------------------------------------------------------------

# One pass, in order: 9 appends, 6 reads, 5 maintenance ops (45/30/25%),
# interleaved so that reads and maintenance see the appends before them.
# Each maintenance op is one erase or one routine of calls a maintenance
# job makes together (compact both indexes then vacuum their generations;
# compact the table, expire old versions, vacuum), so every maintenance
# call runs once a pass without maintenance outnumbering appends. The
# order is fixed and the seed picks every argument (keys, slices, query
# vectors, versions): an op's cost depends on what ran before it (an erase
# after a stream append rewrites two segments), so a seeded order would
# move the pass time by up to a third between seeds with no change to the
# program. Table maintenance closes the pass, after every read of old
# versions.
CHURN_PASS = (
    "txn_write",
    "lsh_stream_append",
    "txn_read_head",
    "txn_write",
    "ivf_append",
    "lsh_probe",
    "txn_write",
    "ivf_probe",
    "lsh_erase",
    "txn_read_version",
    "txn_write",
    "ivf_erase",
    "ivf_append",
    "txn_read_head",
    "txn_erase",
    "txn_write",
    "txn_read_version",
    "index_compact",
    "txn_write",
    "txn_maintain",
)


@dataclass(frozen=True)
class ChurnLayout:
    """How the store_churn inputs split into initial store contents and the
    pools a pass draws its appends, probes and erasures from."""

    docs_base: int  # docs [0, docs_base) are indexed at build time
    docs_pool: int  # docs [docs_base, docs_base + docs_pool) arrive by stream
    vecs_base: int
    events_base: int


def churn_layout(sc: Scale) -> ChurnLayout:
    return ChurnLayout(
        docs_base=sc.docs // 5,
        docs_pool=sc.docs // 5,
        vecs_base=sc.vectors * 3 // 4,
        events_base=sc.events // 2,
    )


def churn_plan(seed: int, sc: Scale) -> list[dict]:
    """The ops of one pass with their seeded arguments; ids refer to rows
    of the generated inputs."""
    rng = _rng(seed, "churn")
    lay = churn_layout(sc)
    n_docs_total = sc.docs + int(sc.docs * DUP_SHARE)
    n_stream = CHURN_PASS.count("lsh_stream_append")
    stream_docs = iter(
        np.split(lay.docs_base + rng.permutation(lay.docs_pool)[: 40 * n_stream], n_stream)
    )
    n_vec = CHURN_PASS.count("ivf_append")
    new_vecs = iter(
        np.split(lay.vecs_base + rng.permutation(sc.vectors - lay.vecs_base)[: 50 * n_vec], n_vec)
    )
    events_rest = sc.events - lay.events_base
    batch = events_rest // CHURN_PASS.count("txn_write")
    ops: list[dict] = []
    n_writes = 0
    for kind in CHURN_PASS:
        op: dict = {"kind": kind}
        if kind == "lsh_stream_append":
            docs = next(stream_docs)
            op["doc_ids"] = sorted(int(d) for d in docs)
            op["n_files"] = 2
        elif kind == "ivf_append":
            op["vec_ids"] = sorted(int(v) for v in next(new_vecs))
        elif kind == "txn_write":
            lo = lay.events_base + n_writes * batch
            op["event_range"] = [lo, lo + batch]
            n_writes += 1
        elif kind == "lsh_probe":
            # the probe batch: the seeded near/exact copies plus random docs
            dup_ids = rng.choice(np.arange(sc.docs, n_docs_total), 30, replace=False)
            rand_ids = rng.choice(sc.docs, 30, replace=False)
            op["doc_ids"] = sorted(int(d) for d in np.concatenate([dup_ids, rand_ids]))
        elif kind == "ivf_probe":
            op["query_vec_id"] = int(rng.integers(0, sc.vectors))
        elif kind == "txn_read_version":
            op["version_pick"] = float(rng.random())
        elif kind == "lsh_erase":
            op["doc_ids"] = sorted(int(d) for d in rng.choice(lay.docs_base, 25, replace=False))
        elif kind == "ivf_erase":
            op["vec_ids"] = sorted(int(v) for v in rng.choice(lay.vecs_base, 40, replace=False))
        elif kind == "txn_erase":
            op["user_ids"] = sorted(int(u) for u in rng.choice(1_500, 3, replace=False))
        elif kind == "txn_maintain":
            op["keep_last"] = 4
        ops.append(op)
    return ops
