"""Driver-side parquet schema resolution for engine-written datasets.

``spark.read.parquet(path)`` without a schema pays per-call footer
inference — profiled r18 at ~80-230 ms per call even with a warm
FileStatusCache (an InMemoryFileIndex build plus a footer-read pass
through the JVM). For datasets THIS engine wrote with a fixed, simple
layout (LSH bucket tables, staged index trees), the same schema is
readable from one footer with pyarrow in ~1-2 ms on the driver.

``fast_parquet_schema`` returns a Spark ``StructType`` for the first
parquet file under ``path``, or ``None`` whenever anything is uncertain.
A Spark-written file carries its schema as JSON in the footer key
``org.apache.spark.sql.parquet.row.metadata``; Spark's own inference
reads that key first, so it is returned as is, whatever its types
(timestamps, decimals, nested). Without the key, the arrow schema is
mapped only when every column type is in the SIMPLE whitelist (nested /
timestamp / decimal types carry engine-specific inference subtleties like
NTZ-vs-LTZ, so those files keep Spark's own inference). A remote scheme
or an unreadable footer also gives ``None``. Callers treat ``None`` as
"fall back to inference", so this is a fast path, never a behaviour
change: the returned schema is exactly what inference would produce,
and a corrupted/mismatched file still fails loudly at scan time.
"""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import types as T

# arrow type name -> Spark type; only types whose Spark inference is
# unambiguous (no tz / precision / nesting subtleties)
_SIMPLE = {
    "int8": T.ByteType(),
    "int16": T.ShortType(),
    "int32": T.IntegerType(),
    "int64": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "string": T.StringType(),
    "large_string": T.StringType(),
    "bool": T.BooleanType(),
    "binary": T.BinaryType(),
    "large_binary": T.BinaryType(),
}

# footer key under which Spark's parquet writer stores the row schema JSON
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def fast_parquet_schema(path: str) -> T.StructType | None:
    """Spark schema of the parquet dataset at local ``path`` via ONE
    pyarrow footer read, or None when inference must decide."""
    p = path
    if p.startswith("file://"):
        p = p[len("file://"):]
    if "://" in p:
        return None  # remote store — let Spark's reader handle it
    try:
        if os.path.isdir(p):
            files = sorted(glob.glob(os.path.join(p, "*.parquet")))
            if not files:
                return None
            p = files[0]
        import pyarrow.parquet as pq

        arrow = pq.read_schema(p)
    except Exception:
        return None
    spark_json = (arrow.metadata or {}).get(_SPARK_ROW_METADATA)
    if spark_json is not None:
        try:
            return T.StructType.fromJson(json.loads(spark_json))
        except (ValueError, KeyError, TypeError):  # a type this pyspark cannot parse
            return None
    fields = []
    for f in arrow:
        spark_t = _SIMPLE.get(str(f.type))
        if spark_t is None:
            return None  # outside the whitelist — inference owns it
        fields.append(T.StructField(f.name, spark_t, f.nullable))
    return T.StructType(fields)
