"""Readers (SURVEY.md §2.1): CSV, Parquet, JSON, Excel, binary/multimodal,
object-store listing.

The reference ingests CSV with header+inferSchema
(``scripts/ingestion.py:71-74``) from blob storage and declares JSON/Excel
support (``README.md:9``, ``tests/unit/test_ingestion.py:118-129``). Policy
here: explicit schema wins when the registry knows the table; inference is
the ad-hoc fallback. Every reader returns a plain DataFrame and adds
nothing — metadata stamping is a separate operator (P2) so reads stay
cacheable/pushdown-friendly.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    header: bool = True,
    infer: bool = True,
) -> DataFrame:
    """S1: CSV scan (ingestion.py:71-74 parity; explicit schema preferred)."""
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", str(infer).lower())
    return reader.csv(path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """S2: columnar scan; pushdown/pruning handled by Catalyst."""
    return spark.read.parquet(path)


def read_json(
    spark: SparkSession, path: str, schema: T.StructType | None = None, multiline: bool = False
) -> DataFrame:
    """S6: JSON scan (README.md:9 'Raw Insurance Data CSV/JSON')."""
    reader = spark.read.option("multiLine", str(multiline).lower())
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


class QuarantineSplit:
    """Result of :func:`read_json_quarantine`: ``good``/``bad`` frames plus
    an ``unpersist()`` handle for the shared cached parse. Unpacks like the
    (good, bad) tuple for convenience."""

    def __init__(self, good: DataFrame, bad: DataFrame, parsed: DataFrame):
        self.good = good
        self.bad = bad
        self._parsed = parsed

    def unpersist(self) -> None:
        """Release the cached parse AFTER materializing everything you
        need from BOTH branches. Post-unpersist recomputes are
        column-pruning-dependent: PERMISSIVE re-parses only the required
        fields, so a row that is corrupt in a pruned field reclassifies
        as clean — counts taken before and after can disagree (this
        pruning-dependence is the reason SPARK-21610 added the
        corrupt-column analyzer check). ``bad`` and all-column-pruning
        counts additionally re-trip that analyzer error outright."""
        self._parsed.unpersist()

    def __iter__(self):
        return iter((self.good, self.bad))


def read_json_quarantine(
    spark: SparkSession, path: str, schema: T.StructType
) -> QuarantineSplit:
    """S6b: JSON scan with corrupt-record quarantine — (good, quarantined).

    Real feeds carry malformed rows; FAILFAST aborts a 100 TB job on the
    first one and DROPMALFORMED silently loses data. PERMISSIVE with
    ``columnNameOfCorruptRecord`` keeps the raw text of every unparseable
    row, so this splits the scan into clean rows (corrupt column dropped)
    and a quarantine frame holding the raw line for replay/debugging —
    the same split/tag shape as the DQ engine's Q4.

    Spark quirk handled here: the parsed frame is cached before filtering
    because a query that references ONLY the internal corrupt column is
    rejected by the analyzer (SPARK-21610) — and without the cache the two
    branches would re-read the files anyway. The cache is NOT
    self-releasing (Spark has no scoped cache): call
    :meth:`QuarantineSplit.unpersist` after consuming both branches, or
    repeated ingests pin a copy of every feed in executor storage memory.
    """
    full = T.StructType(list(schema.fields) + [T.StructField("_corrupt_record", T.StringType())])
    parsed = (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
        .cache()
    )
    good = parsed.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    bad = parsed.filter(F.col("_corrupt_record").isNotNull()).select(
        F.col("_corrupt_record").alias("raw")
    )
    return QuarantineSplit(good, bad, parsed)


def read_excel(spark: SparkSession, path: str, sheet: str | int = 0) -> DataFrame:
    """S5: Excel scan (test_ingestion.py:118-129). Driver-side parse →
    createDataFrame — correct for the reference's small .xlsx inputs; NOT a
    distributed path (large Excel is not a thing worth distributing; the
    format itself caps at ~1M rows).

    pandas/openpyxl when available; otherwise the stdlib SpreadsheetML
    parser (:mod:`etl_hiscox_spark.sources.xlsx_lite`) — strings, numbers,
    booleans, blanks; formulas/styled dates need the full engine.
    """
    import pandas as pd

    try:
        pdf = pd.read_excel(path, sheet_name=sheet)
        return spark.createDataFrame(pdf)
    except ImportError:  # openpyxl missing — stdlib SpreadsheetML fallback
        from etl_hiscox_spark.sources.xlsx_lite import read_xlsx_records

        header, rows = read_xlsx_records(path, sheet)
        pdf = pd.DataFrame(rows, columns=header)
        return spark.createDataFrame(pdf)


def read_binary_files(spark: SparkSession, path: str, glob: str | None = None) -> DataFrame:
    """L7: multimodal ingestion — opaque binary column + typed metadata
    (path, modificationTime, length, content). Partitioning: Spark splits
    by file; pair with maxPartitionBytes for many-small-files corpora."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


@dataclass
class BlobInfo:
    path: str
    size: int
    last_modified: float


def list_objects(spark: SparkSession, root: str, suffix: str = "") -> list[BlobInfo]:
    """S7: object-store listing via the Hadoop FS API — works for any
    deployed scheme (file://, s3a://, abfss://). The reference's blob
    listing + freshness check (health_check.py:333-347)."""
    sc = spark.sparkContext
    hadoop_conf = sc._jsc.hadoopConfiguration()
    jpath = sc._jvm.org.apache.hadoop.fs.Path(root)
    fs = jpath.getFileSystem(hadoop_conf)
    out: list[BlobInfo] = []
    if not fs.exists(jpath):
        return out
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        st = it.next()
        p = st.getPath().toString()
        if suffix and not p.endswith(suffix):
            continue
        out.append(BlobInfo(path=p, size=st.getLen(), last_modified=st.getModificationTime() / 1000.0))
    return out


def latest_object(spark: SparkSession, root: str, suffix: str = "") -> BlobInfo | None:
    """R3 over the listing: most-recent blob (health_check.py:347)."""
    blobs = list_objects(spark, root, suffix)
    return max(blobs, key=lambda b: b.last_modified) if blobs else None


def with_ingest_metadata(df: DataFrame, source_file: str | None = None, batch_id: str | None = None) -> DataFrame:
    """P2: ingestion_timestamp / source_file / batch_id stamping
    (ingestion.py:77-80). input_file_name() when reading many files."""
    out = df.withColumn("ingestion_timestamp", F.current_timestamp())
    out = out.withColumn(
        "source_file", F.lit(source_file) if source_file else F.input_file_name()
    )
    if batch_id is not None:
        out = out.withColumn("ingestion_batch_id", F.lit(batch_id))
    return out


def _avro_to_spark_type(t) -> T.DataType:
    if isinstance(t, list):  # union — nullable wrapper
        non_null = [s for s in t if (s if isinstance(s, str) else s.get("type")) != "null"]
        if len(non_null) != 1:
            raise NotImplementedError(f"multi-branch avro union {t}")
        return _avro_to_spark_type(non_null[0])
    if isinstance(t, dict):
        lt = t.get("logicalType")
        if lt in ("timestamp-micros", "timestamp-millis"):
            return T.TimestampType()
        if t["type"] == "array":
            return T.ArrayType(_avro_to_spark_type(t["items"]))
        t = t["type"]
    prim = {
        "long": T.LongType(),
        "int": T.IntegerType(),
        "double": T.DoubleType(),
        "float": T.FloatType(),
        "string": T.StringType(),
        "boolean": T.BooleanType(),
        "bytes": T.BinaryType(),
    }
    if t not in prim:
        raise NotImplementedError(f"avro type {t!r} has no fallback mapping")
    return prim[t]


def _spark_to_avro_type(dt: T.DataType):
    if isinstance(dt, T.LongType):
        return "long"
    if isinstance(dt, T.IntegerType):
        return "int"
    if isinstance(dt, T.DoubleType):
        return "double"
    if isinstance(dt, T.FloatType):
        return "float"
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, T.BooleanType):
        return "boolean"
    if isinstance(dt, T.BinaryType):
        return "bytes"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return {"type": "long", "logicalType": "timestamp-micros"}
    if isinstance(dt, T.ArrayType):
        return {"type": "array", "items": _spark_to_avro_type(dt.elementType)}
    raise NotImplementedError(f"spark type {dt} has no avro fallback mapping")


def _is_missing_avro_datasource(e: Exception) -> bool:
    """True only for the the-module-isn't-deployed failure. A substring
    match on 'avro' alone would misroute REAL native-path failures (a path
    or schema message containing 'avro' during disk-full / schema-mismatch
    / executor loss) into the fallback, silently swallowing the error and
    changing the output format mid-job."""
    msg = str(e)
    markers = (
        "FAILED_TO_FIND_DATA_SOURCE",        # error-class form
        "DATA_SOURCE_NOT_FOUND",             # current non-legacy class
        "Failed to find data source",        # _LEGACY_ERROR_TEMP_1139 text
        "Failed to find the data source",    # non-legacy catalog text
    )
    return any(m in msg for m in markers) and "avro" in msg.lower()


def _avro_datasource_available(spark: SparkSession) -> bool:
    """Whether the spark-avro module resolves, asked of the JVM's data
    source lookup without planning a query: a ``format("avro")`` load
    that fails analysis is reported to the query execution listeners, and
    once any ``Observation`` has run in the session its listener rethrows
    the failure, which Spark logs at ERROR with a full stack trace."""
    jvm = spark.sparkContext._jvm
    try:
        jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(
            "avro", spark._jsparkSession.sessionState().conf()
        )
    except Exception as e:
        if _is_missing_avro_datasource(e):
            return False
        raise
    return True


def read_avro(spark: SparkSession, path: str) -> DataFrame:
    """Avro scan — the row-oriented interchange format (Kafka/Connect
    pipelines land it). Prefers the spark-avro module when its jar is on
    the classpath; without it, a REAL stdlib fallback
    (:mod:`etl_hiscox_spark.sources.avro_lite`, same policy as the xlsx/
    BMP/WAV/GIF codecs) parses the object-container format distributed:
    the schema comes from one file header (driver-side, no block decode),
    then each container decodes inside an Arrow ``mapInPandas`` over a
    ``binaryFile`` scan — per-file parallelism, rows never hit the driver."""
    if _avro_datasource_available(spark):
        return spark.read.format("avro").load(path)

    from etl_hiscox_spark.sources.avro_lite import read_container, read_container_schema

    files = sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".avro")
    ) if os.path.isdir(path) else [path]
    if not files:
        raise FileNotFoundError(f"no .avro files under {path}")
    avro_schema = read_container_schema(files[0])
    fields = [
        T.StructField(f["name"], _avro_to_spark_type(f["type"]))
        for f in avro_schema["fields"]
    ]
    spark_schema = T.StructType(fields)
    names = [f.name for f in fields]

    def _norm_type(t):
        # Canonical (name-free) type shape for cross-writer comparison:
        # unwrap {"type": "long"} spellings, keep logicalType (a
        # timestamp-micros long is NOT a plain long), drop documentation
        # attributes (doc/default/aliases), recurse into containers.
        if isinstance(t, list):
            return ("union", tuple(_norm_type(b) for b in t))
        if isinstance(t, dict):
            base = t.get("type")
            if base == "record":
                return ("record", tuple(
                    (f["name"], _norm_type(f["type"])) for f in t.get("fields", ())
                ))
            if base == "array":
                return ("array", _norm_type(t["items"]))
            if base == "map":
                return ("map", _norm_type(t["values"]))
            if "logicalType" in t:
                return (str(base), t["logicalType"])
            return _norm_type(base)
        return str(t)

    def _norm_fields(schema):
        return [(f["name"], _norm_type(f["type"])) for f in schema["fields"]]

    probed_fields = _norm_fields(avro_schema)

    def decode(batches):
        import pandas as pd

        for pdf in batches:
            for content in pdf["content"]:
                file_schema, records = read_container(bytes(content))
                # Each container carries its own embedded schema; the scan
                # schema was probed from ONE file's header. A directory
                # mixing schemas must fail loudly here — otherwise
                # pd.DataFrame(records, columns=names) silently drops the
                # extra fields and NaN-fills the missing ones, and a
                # same-named field of a DIFFERENT type would be silently
                # coerced by the Arrow conversion (5.5 -> 5 under a probed
                # long). Comparison is over (name, canonical type) pairs —
                # writer-specific spellings ({"type":"long"} vs "long")
                # and doc/default/alias attributes don't count as drift.
                got = _norm_fields(file_schema)
                if got != probed_fields:
                    raise ValueError(
                        "avro container schema mismatch: probed "
                        f"{probed_fields} but a file declares {got}; "
                        "read_avro requires one schema per directory"
                    )
                yield pd.DataFrame(records, columns=names)

    return (
        read_binary_files(spark, path, glob="*.avro" if os.path.isdir(path) else None)
        .select("content")
        .mapInPandas(decode, spark_schema)
    )


def write_avro(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Avro sink — spark-avro when deployed, stdlib container writer
    otherwise (deflate codec, one file per Arrow partition, written
    executor-side; the tiny (file, n_rows) receipt frame is the only
    thing collected)."""
    if _avro_datasource_available(df.sparkSession):
        df.write.mode(mode).format("avro").save(path)
        return

    import uuid

    from etl_hiscox_spark.sources.avro_lite import write_container

    avro_schema = {
        "type": "record",
        "name": "row",
        "fields": [
            {"name": f.name, "type": ["null", _spark_to_avro_type(f.dataType)]}
            for f in df.schema.fields
        ],
    }
    if mode == "overwrite" and os.path.exists(path):
        import shutil

        shutil.rmtree(path)
    os.makedirs(path, exist_ok=True)

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            clean = pdf.astype(object).where(pdf.notnull(), None)
            records = []
            for rec in clean.to_dict("records"):
                records.append(
                    {
                        k: (v.to_pydatetime() if isinstance(v, pd.Timestamp) else v)
                        for k, v in rec.items()
                    }
                )
            fname = os.path.join(path, f"part-{uuid.uuid4().hex}.avro")
            with open(fname, "wb") as f:
                f.write(write_container(records, avro_schema))
            yield pd.DataFrame({"file": [fname], "n_rows": [len(records)]})

    df.mapInPandas(encode, "file string, n_rows long").collect()


def read_orc(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """ORC scan — same vectorized reader + predicate pushdown story as
    parquet (Spark's second first-class columnar format). Kept for parity
    with warehouses that land ORC (Hive-era lakes). An explicit schema
    (when the registry knows the table) skips footer inference and pins
    types across engines."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def read_fixed_width(
    spark: SparkSession,
    path: str,
    fields: list[tuple[str, int, str]],
) -> DataFrame:
    """Fixed-width flat-file scan — the classic mainframe/insurance feed
    format (policy extracts, bordereaux) that predates delimiters.

    ``fields`` is an ordered list of ``(name, width, spark_type_ddl)``;
    consecutive fields are adjacent byte ranges of each line. Parsing is
    pure ``substring``/``trim``/``cast`` expressions on ``spark.read.text``
    — codegen'd, split-parallel (a 100 TB feed scans exactly like any text
    source: one task per 128 MB split), no UDF. All-blank cells become
    NULL before the cast (ANSI mode would otherwise throw casting '' to a
    numeric type — the F15 blank-as-null policy applied at the source).
    """
    raw = spark.read.text(path)
    cols = []
    pos = 1
    for name, width, dtype in fields:
        if width <= 0:
            raise ValueError(f"field {name!r}: width must be positive, got {width}")
        cell = F.trim(F.substring(F.col("value"), pos, width))
        cols.append(F.nullif(cell, F.lit("")).cast(dtype).alias(name))
        pos += width
    return raw.select(cols)


def write_fixed_width(
    df: DataFrame,
    path: str,
    fields: list[tuple[str, int]],
    mode: str = "overwrite",
) -> None:
    """Render ``fields`` (ordered ``(column, width)``) as fixed-width lines.

    Values are left-aligned and space-padded; NULL renders as all blanks
    (read_fixed_width's blank-as-null inverts it). A value LONGER than its
    width fails the job with a clear error instead of silently truncating
    — a truncated policy number is corruption, not formatting.
    """
    parts = []
    for name, width in fields:
        s = F.col(name).cast("string")
        s = F.when(
            F.length(s) > width,
            F.raise_error(
                F.concat(
                    F.lit(f"write_fixed_width: value in {name!r} exceeds width {width}: "),
                    s,
                )
            ),
        ).otherwise(F.rpad(F.coalesce(s, F.lit("")), width, " "))
        parts.append(s)
    df.select(F.concat(*parts).alias("value")).write.mode(mode).text(path)
