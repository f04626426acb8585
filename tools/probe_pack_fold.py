"""Warm cost of packing ONE hash group with ``pack_sequences``.

Prints, for one group of 4k, 16k, 64k and 256k items (token counts 5-64,
budget 1024), the warm seconds of the Catalyst best-fit-decreasing fold
and of the pure-Python reference in ``tests/test_training_ops.py``. The
fold is timed end to end on a cached input (``noop`` write of every
output row); the reference is timed on the collected rows alone.

Usage:
    python tools/probe_pack_fold.py [--sizes 4096,16384] [--cap N] [--repeat 3]

``--cap`` overrides ``sampling.PACK_FOLD_CAP`` for the run, so
``--cap 1000000`` measures the unsplit fold whose O(m²) curve the cap
exists to avoid.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sizes", default="4096,16384,65536,262144")
    ap.add_argument("--cap", type=int, default=None)
    ap.add_argument("--repeat", type=int, default=3)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from etl_hiscox_spark.operators import sampling
    from etl_hiscox_spark.session import get_spark
    from tests.test_training_ops import _reference_rows, reference_pack_ids

    if args.cap is not None:
        sampling.PACK_FOLD_CAP = args.cap
    spark = get_spark("probe_pack_fold", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")

    def group(m: int):
        return spark.range(m).select(
            F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
            (F.shiftrightunsigned(F.xxhash64("id"), 1) % 60 + 5).cast("int").alias("n_tokens"),
        ).cache()

    def fold_s(df) -> float:
        t0 = time.perf_counter()
        sampling.pack_sequences(df, "doc_id", "n_tokens", budget=1024, n_groups=1).write.format(
            "noop"
        ).mode("overwrite").save()
        return time.perf_counter() - t0

    fold_s(group(512))  # warm-up: codegen, first shuffle
    print(f"cap={sampling.PACK_FOLD_CAP} budget=1024 token counts 5-64, one hash group")
    print(f"{'items':>8} {'sql_fold_s':>11} {'python_ref_s':>13}")
    for m in (int(x) for x in args.sizes.split(",")):
        df = group(m)
        df.count()
        sql = statistics.median(fold_s(df) for _ in range(args.repeat))
        rows = _reference_rows(df, "doc_id", "n_tokens", 1)
        ref = []
        for _ in range(args.repeat):
            t0 = time.perf_counter()
            reference_pack_ids(rows, 1024, cap=sampling.PACK_FOLD_CAP)
            ref.append(time.perf_counter() - t0)
        print(f"{m:>8} {sql:>11.3f} {statistics.median(ref):>13.3f}", flush=True)
        df.unpersist()
    spark.stop()


if __name__ == "__main__":
    main()
