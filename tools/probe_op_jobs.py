"""Spark jobs started by each index and txn maintenance op.

Builds a small IVF index (200 x 8, 4 clusters), an LSH index (60 docs)
and a 4-append TxnTable in a temporary directory, then runs each op once
under its own job group and prints the number of Spark jobs it started:
IVF append, probe, erase, fragmentation stats and compact; LSH append,
fragmentation stats, erase and compact; txn erase_keys.

Usage:
    python tools/probe_op_jobs.py [--tree PATH]

``--tree`` imports ``etl_hiscox_spark`` from another checkout (for
example an older commit unpacked with ``git archive``), so two trees'
counts can be compared on the same host.
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--tree", default=ROOT)
    args = ap.parse_args()
    tree = os.path.abspath(args.tree)
    sys.path.insert(0, tree)
    # the Python workers import the engine too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (tree, os.environ.get("PYTHONPATH")) if p
    )

    import numpy as np
    from pyspark.sql import SparkSession

    from etl_hiscox_spark.operators import dedup
    from etl_hiscox_spark.operators import similarity as sim
    from etl_hiscox_spark.sources.txnlog import TxnTable

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    def jobs(name, fn) -> None:
        group = f"probe-{uuid.uuid4().hex}"
        sc.setJobGroup(group, name)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        print(f"{name:20s} {len(sc.statusTracker().getJobIdsForGroup(group))}")

    rng = np.random.default_rng(1)

    def emb(ids):
        return spark.createDataFrame(
            [(int(i), [float(x) for x in rng.standard_normal(8)]) for i in ids],
            "vec_id long, embedding array<float>",
        )

    with tempfile.TemporaryDirectory() as tmp:
        ivf = f"{tmp}/ivf"
        sim.write_ivf_index(emb(range(200)), ivf, "embedding", "vec_id", n_clusters=4, max_iter=3)
        jobs("ivf_append", lambda: sim.append_to_ivf_index(
            emb(range(300, 320)), ivf, "embedding", "vec_id"))
        q = [float(x) for x in rng.standard_normal(8)]
        jobs("ivf_probe", lambda: sim.ivf_probe_topk(
            spark, ivf, None, "embedding", "vec_id", q, k=5, n_probe=2).collect())
        erased = spark.range(0, 200, 50).selectExpr("id AS vec_id")
        jobs("ivf_erase", lambda: sim.erase_from_ivf_index(spark, ivf, erased, "vec_id"))
        jobs("ivf_fragmentation", lambda: sim.ivf_fragmentation_stats(spark, ivf).collect())
        jobs("ivf_compact", lambda: sim.compact_ivf_index(spark, ivf))

        docs = spark.createDataFrame(
            [(i, f"doc {i} about topic {i % 7} with words alpha beta gamma {i}") for i in range(60)],
            "doc_id long, text string",
        )
        lsh = f"{tmp}/lsh"
        dedup.write_minhash_index(docs.filter("doc_id < 40"), "text", "doc_id", lsh)
        jobs("lsh_append", lambda: dedup.write_minhash_index(
            docs.filter("doc_id >= 40"), "text", "doc_id", lsh, mode="append"))
        jobs("lsh_fragmentation", lambda: dedup.minhash_fragmentation_stats(spark, lsh).collect())
        erased = spark.range(0, 60, 9).selectExpr("id AS doc_id")
        jobs("lsh_erase", lambda: dedup.erase_from_minhash_index(spark, lsh, erased, "doc_id"))
        jobs("lsh_compact", lambda: dedup.compact_minhash_index(spark, lsh))

        t = TxnTable(spark, f"{tmp}/txn")
        for i in range(4):
            t.write(spark.range(i * 10, i * 10 + 10).selectExpr("id", "id * 2 AS v").coalesce(1))
        jobs("txn_erase", lambda: t.erase_keys("id", [3, 25]))
    spark.stop()


if __name__ == "__main__":
    main()
