"""Driver-side facts about the parquet trees the engine writes.

Index segments, their commit records and TxnTable data files are trees
whose layout and schema engine code fixes. Every fact the engine needs
about one of them is read on the DRIVER through one seam,
:func:`_resolve_fs` (``pyarrow.fs``), so a local path, a ``file:`` URI
and an object-store URI (``s3://``, or Hadoop's ``s3a://``/``s3n://``
spelling of it) answer alike and no Spark job runs:

- :func:`data_files` lists the data files of a tree under Spark's
  hidden-file rule (:func:`is_hidden`): sizes and file counts for
  compaction and the fragmentation stats;
- :func:`footer_schema` reads the schema Spark's writer stored in a data
  file's footer, so every read of an engine-written tree pins it instead
  of paying Spark's per-call inference job;
- :func:`partition_high_watermark` reads a Hive-layout table's maximum
  partition value from its directory names.

:func:`_meta_is_local` tells the two commit-log guards whether a
scheme-less root is on the driver's own disk.
"""

from __future__ import annotations

import json
import re


def _meta_is_local(spark, path: str) -> bool:
    """True only when the path resolves to the DRIVER's local filesystem.

    ``pyarrow.fs`` treats a scheme-less path as local while Spark resolves
    it against ``fs.defaultFS``. The two commit-log guards ask this before
    they trust a scheme-less root: ``versionlog.check_root`` refuses one
    on a non-file defaultFS (a log on the driver's disk beside data on the
    cluster FS is a split store), and ``commitio.commit_if_absent`` takes
    its ``os.link`` create-if-absent path only for a local target.

    An explicit remote scheme (hdfs://, s3a://, ...) is never local, and
    any ``file:`` prefix is: Hadoop's ``Path.toString()`` renders local
    URIs as single-slash ``file:/x``, which has no ``://``."""
    if path.startswith("file:"):
        return True
    if "://" in path:
        return False
    default_fs = (
        spark.sparkContext._jsc.hadoopConfiguration().get("fs.defaultFS", "file:///")
    )
    return default_fs.startswith("file:")


def _resolve_fs(dir_uri: str):
    """``(filesystem, root_path)`` for a URI or plain path. Hadoop renders
    local URIs as ``file:/x`` (one slash), which PyArrow's ``from_uri``
    rejects, so every ``file:`` URI becomes a plain LocalFileSystem path."""
    from pyarrow import fs as pafs

    if dir_uri.startswith("file:") or "://" not in dir_uri:
        local = dir_uri[len("file:"):] if dir_uri.startswith("file:") else dir_uri
        return pafs.LocalFileSystem(), re.sub("^/+", "/", local)
    # Hadoop's s3a/s3n schemes name the same stores PyArrow registers as
    # s3 — alias them so index roots written with Hadoop-style URIs resolve
    if dir_uri.startswith(("s3a://", "s3n://")):
        dir_uri = "s3://" + dir_uri.split("://", 1)[1]
    return pafs.FileSystem.from_uri(dir_uri)


# Partition-column dtypes whose directory-name encoding round-trips to a
# Python value with the SAME ordering Spark gives the column: UTF-8 binary
# order == code-point order for strings, numeric order for integrals,
# ISO-date order for dates. Timestamps (session-tz rendering), decimals,
# and floats deliberately fall back to the footer scan — their dir-name
# forms have normalization subtleties that are not worth a wrong watermark.
def _parse_partition_value(raw: str, dtype):
    from datetime import date
    from urllib.parse import unquote

    from pyspark.sql import types as T

    value = unquote(raw)
    if isinstance(dtype, T.StringType):
        return value
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return int(value)
    if isinstance(dtype, T.DateType):
        return date.fromisoformat(value)
    raise ValueError(f"unsupported partition dtype for dir-name watermark: {dtype}")


def partition_high_watermark(path: str, partition_col: str, dtype):
    """Max partition value of a Hive-layout table from DIRECTORY NAMES.

    ``spark.read.parquet(path).agg(max(partition_col))`` is correct but
    pays a full recursive file listing plus a scheduled job over every
    file — at 100 TB with years of daily partitions that is O(all files)
    for a fact derivable from O(partitions) directory entries. This reads
    one non-recursive LIST of ``path`` plus one per-dir non-emptiness
    check (empty dirs contribute no rows to the footer scan either, so
    skipping them matches the scan's answer exactly).

    Returns ``(found, watermark)``: ``(False, None)`` when the table does
    not exist yet, ``(True, None)`` when it exists but has no data-bearing
    partitions. Raises ``ValueError`` for dtypes whose dir-name encoding
    does not safely round-trip (caller falls back to the footer scan).
    """
    from pyarrow import fs as pafs

    filesystem, root = _resolve_fs(path)
    if filesystem.get_file_info(root).type != pafs.FileType.Directory:
        return False, None
    prefix = f"{partition_col}="
    values = []
    for info in filesystem.get_file_info(pafs.FileSelector(root, recursive=False)):
        name = info.base_name
        if info.type != pafs.FileType.Directory or not name.startswith(prefix):
            continue
        raw = name[len(prefix):]
        if raw == "__HIVE_DEFAULT_PARTITION__":  # null partition: max() ignores nulls
            continue
        children = filesystem.get_file_info(
            # allow_not_found: a concurrent retention job may delete an
            # expired partition between the root LIST and this one — a
            # vanished old partition is watermark-irrelevant, not an error
            pafs.FileSelector(info.path, recursive=False, allow_not_found=True)
        )
        if any(
            c.type == pafs.FileType.File
            # hidden/marker files (.crc, _committer leftovers) are ignored
            # by Spark's reader, so they must not make a partition count
            # as data-bearing here either
            and not is_hidden(c.base_name)
            for c in children
        ):
            values.append(_parse_partition_value(raw, dtype))
    return True, (max(values) if values else None)


def is_hidden(name: str) -> bool:
    """Spark's hidden-file rule for one path component: ``.``-prefixed
    names and ``_``-prefixed names without ``=`` (``_SUCCESS``, ``.crc``
    checksums, an IVF segment's ``_centroids`` record) are not data; a
    ``__cluster=3`` partition directory is."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def data_files(tree: str) -> list:
    """The data files of the parquet tree at ``tree`` (a directory, or one
    file) as ``pyarrow.fs.FileInfo``, sorted by path; ``[]`` when nothing
    is there. A directory costs one recursive LIST, and a file below it
    counts only if no path component under ``tree`` is hidden
    (:func:`is_hidden`), as in Spark's reader."""
    from pyarrow import fs as pafs

    filesystem, root = _resolve_fs(tree)
    root = root.rstrip("/")
    try:
        infos = filesystem.get_file_info(
            pafs.FileSelector(root, recursive=True, allow_not_found=True)
        )
    except NotADirectoryError:
        infos = []
    if not infos:  # a missing or empty tree, or one file named directly
        info = filesystem.get_file_info(root)
        return [info] if info.type == pafs.FileType.File else []
    return sorted(
        (
            i
            for i in infos
            if i.type == pafs.FileType.File
            and not any(is_hidden(n) for n in i.path[len(root) + 1:].split("/"))
        ),
        key=lambda i: i.path,
    )


# footer key under which Spark's parquet writer stores the row schema JSON
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def footer_schema(trees: str | list[str]):
    """The Spark ``StructType`` stored in the footer of the first data file
    of ``trees`` (taken in order). Spark's own inference reads the same
    key first, so a read pinned to it sees the schema inference would,
    minus the inference job. Raises ``ValueError`` when the trees hold no
    data file or that file carries no Spark schema: the engine pins only
    trees Spark wrote."""
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    for tree in [trees] if isinstance(trees, str) else trees:
        files = data_files(tree)
        if files:
            filesystem, _ = _resolve_fs(tree)
            with filesystem.open_input_file(files[0].path) as f:
                meta = pq.read_schema(f).metadata or {}
            if _SPARK_ROW_METADATA not in meta:
                raise ValueError(
                    f"{files[0].path!r} has no Spark schema in its footer "
                    f"({_SPARK_ROW_METADATA.decode()})"
                )
            return T.StructType.fromJson(json.loads(meta[_SPARK_ROW_METADATA]))
    raise ValueError(f"no data file under {trees!r}")
