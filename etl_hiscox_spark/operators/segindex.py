"""The segment lifecycle shared by the LSH index (:mod:`operators.dedup`)
and the IVF index (:mod:`operators.similarity`).

Both indexes live as SEGMENTS under one generation-pointer log
(:mod:`sources.genlog`) — the only layout either index is written or
maintained in. This module owns their lifecycle — head snapshot, build,
append, compact, erase, rebuild — and is the only code that commits
index pointers (appends commit through :func:`genlog.append_segment`).
Code outside the index modules reads live rows through :func:`live_rows`.
A root without a pointer log is rejected by genlog's head resolution,
which every op but ``build`` goes through; ``build`` refuses a root with no
pointer log that holds anything but ``gen-*`` directories
(:func:`_reject_foreign_entries`): the index is rebuilt from its source
rows, never adopted from a tree already on disk. The protocol, stated once:

- A segment is a complete ``gen-*`` tree: its data plus the index's commit
  record (LSH banding ``meta``, IVF ``_centroids``), written LAST. A
  half-staged tree has no record, so readers reject it loudly and
  :func:`genlog.vacuum_generations` reclaims it. Committed segments are
  immutable.
- The commit record is one small parquet object,
  ``<segment>/<record_dir>/<record_dir without "_">.parquet``, written and
  read on the driver by :func:`write_record` / :func:`read_record` through
  the pointer log's own seam (:func:`listing._resolve_fs` and
  :func:`commitio.replace_put`: one single-shot PUT on a hooked S3-class
  store). A read takes every file of the record directory but ``_``- and
  ``.``-prefixed ones, as a parquet dataset does, so a record directory
  Spark wrote (``part-*.parquet`` + ``_SUCCESS``) decodes the same.
- ``segments[0]`` of the head pointer holds the GEOMETRY: its commit record
  pins the index parameters. Every other segment carries a validated copy,
  so any segment may move into the first slot.
- Every op stages first; then ONE pointer commit publishes at ``base + 1``
  create-if-absent, ``base`` being the head the op resolved before staging.
  A commit whose base was superseded collides loudly
  (:func:`genlog.rerun_on_generation_conflict` re-runs the op). Every
  commit carries the head's ``txn_watermarks`` (the exactly-once append
  ledger). Compact and erase keep ``geometry_id``; build and rebuild mint a
  new one, so an append staged against the old geometry re-stages.
- Appends add a self-contained delta segment to the head's list; compact
  merges every segment into one — the LSM shape.
- Erase rewrites only the segments it hits. Untouched segments are kept BY
  REFERENCE (same directory in the new list). A FULLY-ERASED segment drops
  out of the list. A readable zero-row placeholder (plain parquet with the
  full schema, plus the commit record) is written only when the list would
  otherwise be empty: probes then answer empty and appends land beside it.

What differs per index is a :class:`SegmentKind` constant in each index
module, never a caller parameter.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any, NamedTuple, TypeVar

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_hiscox_spark.sources import commitio, genlog, listing

T = TypeVar("T")


class SegmentKind(NamedTuple):
    """One index layout's answers to the segment protocol."""

    data_dir: str | None  # data below the segment root; None = the root
    key_col: str | None  # erase key column; None = the caller's id column
    write_data: Callable[[DataFrame, str], None]  # stage rows at a data path
    read_data: Callable[[Any, list[str]], DataFrame]  # (spark, data paths) -> rows
    record_dir: str  # the commit record's directory below the segment root
    encode: Callable[[Any], Any]  # record -> pyarrow.Table
    decode: Callable[[Any], Any]  # pyarrow.Table (>= 1 row) -> record
    missing: str  # the error for a segment without a record; {segment} is filled

    def data(self, segment: str) -> str:
        return genlog._join(segment, self.data_dir) if self.data_dir else segment


def write_record(kind: SegmentKind, segment: str, record: Any) -> None:
    """Write ``record`` as ``segment``'s commit record: one parquet object
    replacing any earlier one (see the module docstring)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    filesystem, d = listing._resolve_fs(genlog._join(segment, kind.record_dir))
    if filesystem.type_name == "local":  # object stores and HDFS make parents on write
        filesystem.create_dir(d)
    buf = pa.BufferOutputStream()
    pq.write_table(kind.encode(record), buf)
    name = kind.record_dir.lstrip("_") + ".parquet"
    commitio.replace_put(filesystem, f"{d}/{name}", buf.getvalue().to_pybytes())


def read_record(kind: SegmentKind, segment: str) -> Any:
    """``segment``'s decoded commit record. A missing, unreadable or empty
    record raises ``ValueError(kind.missing)``: a reader must never fall
    back to default or stale index parameters."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyarrow import fs as pafs

    try:
        filesystem, d = listing._resolve_fs(genlog._join(segment, kind.record_dir))
        tables = []
        for info in sorted(filesystem.get_file_info(pafs.FileSelector(d)), key=lambda i: i.path):
            if info.type == pafs.FileType.File and not info.base_name.startswith(("_", ".")):
                with filesystem.open_input_file(info.path) as f:
                    tables.append(pq.read_table(f))
        table = pa.concat_tables(tables)  # ArrowInvalid when there is no file
    except (OSError, pa.ArrowException) as exc:
        raise ValueError(kind.missing.format(segment=segment)) from exc
    if table.num_rows == 0:
        raise ValueError(kind.missing.format(segment=segment))
    return kind.decode(table)


class Head(NamedTuple):
    """A pointer snapshot: the base a commit lands on, and its segments."""

    root: str
    base: int | None
    record: dict

    @property
    def segments(self) -> list[str]:
        return genlog.pointer_segments(self.record) if self.record else []

    @property
    def paths(self) -> list[str]:
        return [self.path(s) for s in self.segments]

    def path(self, name: str) -> str:
        return genlog._join(self.root, name)


def head(spark, path: str) -> Head:
    """The live head; loud on an empty log (an interrupted first build)."""
    base, _gen = genlog.current_generation(spark, path)
    root = genlog.resolve_root(spark, path)
    return Head(root, base, genlog.read_pointer(root, base))


def live_rows(spark, path: str, kind: SegmentKind) -> DataFrame:
    """Every live row of an index root, read through its pointer — a raw
    read of the root would also scan superseded and staged generations."""
    return kind.read_data(spark, [kind.data(p) for p in genlog.live_index_paths(spark, path)])


def _commit(spark, h: Head, gen: str, operation: str, segments=None, geometry_id=None):
    genlog.commit_generation(
        spark, h.root, gen, operation, base_version=h.base,
        segments=segments,
        geometry_id=geometry_id or h.record.get("geometry_id"),
        txn_watermarks=h.record.get("txn_watermarks"),
    )


def _reject_foreign_entries(root: str) -> None:
    """A build over a root with no pointer log must find nothing there but
    ``gen-*`` directories (what a first build that crashed before its
    commit leaves; vacuum reclaims them). Anything else is not this
    index's to strand or overwrite — under a GDPR erase a stranded copy
    would keep subject rows on disk that no vacuum reclaims."""
    from pyarrow import fs as pafs

    try:
        filesystem, p = listing._resolve_fs(root)
    except (ValueError, KeyError):
        # a scheme pyarrow cannot RESOLVE: the staging write decides
        # reachability loudly itself
        return
    # IO errors (throttling, timeouts) propagate: skipping the guard on a
    # transient listing failure would strand what it exists to catch
    infos = filesystem.get_file_info(
        pafs.FileSelector(p, recursive=False, allow_not_found=True)
    )
    if any(i.base_name == genlog._GEN_LOG for i in infos):
        return
    foreign = sorted(
        i.base_name
        for i in infos
        if not (i.base_name.startswith("gen-") and i.type == pafs.FileType.Directory)
    )
    if foreign:
        raise ValueError(
            f"build at {root!r} would strand entries already there "
            f"({', '.join(foreign)}): the root has no {genlog._GEN_LOG}, so it "
            "is not a generational index root — build at a fresh root, or "
            "rebuild the index from its source rows"
        )


def _fresh_geometry(spark, h: Head, operation: str, stage: Callable[[Head, str], T]) -> T:
    """Stage ONE generation with ``stage(head, target)`` and commit it as
    the whole segment list under a new geometry epoch."""
    gen = genlog.new_generation_name()
    out = stage(h, h.path(gen))
    _commit(spark, h, gen, operation, geometry_id=genlog.new_geometry_id())
    return out


def build(spark, path: str, stage: Callable[[Head, str], T]) -> T:
    """Overwrite build: ``stage(head, target)`` writes a complete index into
    a fresh generation. Onto an existing head it carries the ledger."""
    root = genlog.resolve_root(spark, path)
    _reject_foreign_entries(root)
    base = genlog.latest_pointer_version(spark, root)
    prior = genlog.read_pointer(root, base) if base is not None else {}
    return _fresh_geometry(spark, Head(root, base, prior), "build", stage)


def rebuild(spark, path: str, stage: Callable[[Head, str], T]) -> T:
    """``stage(head, target)`` re-derives the index (new banding, retrained
    centroids) into one fresh generation under a new geometry epoch."""
    return _fresh_geometry(spark, head(spark, path), "rebuild", stage)


def compact(spark, path: str, kind: SegmentKind, merge: Callable[[Head, str], int | None]) -> int:
    """``merge(head, data_target)`` rewrites the union of every segment and
    returns the output file count, or None when there is nothing to merge
    (a fully-erased placeholder head): no commit, and compact returns 0."""
    h = head(spark, path)
    record = read_record(kind, h.paths[0])  # loud on an uncommitted index
    gen = genlog.new_generation_name()
    n = merge(h, kind.data(h.path(gen)))
    if n is None:
        return 0
    write_record(kind, h.path(gen), record)
    _commit(spark, h, gen, "compact")
    return n


def append(
    spark,
    path: str,
    stage: Callable[[Head, str], None],
    validate: Callable[[Head, Head], None],
    txn: tuple[str, int] | None,
) -> None:
    """Stage a delta with ``stage(head, target)`` and OCC-commit it through
    :func:`genlog.append_segment`. ``validate(staged, current)`` runs before
    staging and on every head the commit resolves. It raises ``ValueError``
    (user error) or :class:`genlog.GeometryChanged` (the delta is stale:
    re-stage, at most 3 times). A replayed ``txn`` batch returns before
    staging anything."""
    root = genlog.resolve_root(spark, path)
    for _ in range(3):
        h = head(spark, root)
        if genlog.is_replay(h.record, txn):
            return
        validate(h, h)
        delta = genlog.new_generation_name()
        stage(h, h.path(delta))
        try:
            genlog.append_segment(
                spark, root, delta, txn=txn,
                validate=lambda rec, h=h: validate(h, Head(root, rec.get("version"), rec)),
            )
            return
        except genlog.GeometryChanged:
            continue  # the stale delta is vacuum-reclaimable debris
    raise RuntimeError(
        f"append at {root!r}: geometry changed on every attempt (3) "
        "— pathological rebuild contention; pause rebuilds and re-append"
    )


def _segment_hit_stats(
    seg_dfs: list[DataFrame], keys_bc: DataFrame, id_col: str
) -> list[tuple[int, int]]:
    """``(total_rows, erase_hits)`` for every live segment, in ONE action
    (per-action latency dominates multi-segment heads). ``keys_bc`` is the
    broadcast-hinted DISTINCT erase set, so the left join marks without
    duplicating; committed generations are immutable, so these stats and
    the rewrites that follow read consistent bytes."""
    hit = keys_bc.withColumn("__hit", F.lit(1))
    marked = None
    for i, seg in enumerate(seg_dfs):
        m = seg.select(F.col(id_col), F.lit(i).alias("__seg"))
        marked = m if marked is None else marked.unionByName(m)
    rows = (
        marked.join(hit, id_col, "left")
        .groupBy("__seg")
        .agg(
            F.count(F.lit(1)).alias("total"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("hits"),
        )
        .collect()
    )
    by_seg = {r["__seg"]: (r["total"], r["hits"]) for r in rows}
    return [by_seg.get(i, (0, 0)) for i in range(len(seg_dfs))]


def erase(spark, path: str, kind: SegmentKind, keys: DataFrame, id_col: str) -> int:
    """Drop every row whose key is in ``keys`` (broadcast: erase requests are
    tiny next to an index) from every live segment; returns the rows erased.

    A single-segment head (the shape after a compact) pays ONE action: the
    anti-join rewrite reports total and kept rows through ``observe()``, and
    a no-hit erase drops its stage and returns 0 without a commit. A
    multi-segment head pays one stats action, then rewrites the hit
    segments concurrently into disjoint staged trees."""
    from pyspark.sql import Observation

    from etl_hiscox_spark.concurrency import run_overlapped
    from etl_hiscox_spark.fastschema import fast_parquet_schema
    from etl_hiscox_spark.smalldf import local_rows_df

    h = head(spark, path)
    record = read_record(kind, h.paths[0])
    key = kind.key_col or id_col
    k = F.broadcast(keys.select(F.col(id_col).alias(key)).distinct())
    # ONE schema for every segment (same layout by protocol): a pyarrow
    # footer read where possible, else one Spark inference — per-call
    # inference costs ~80-230 ms; a mismatch still fails loudly at scan
    schema = fast_parquet_schema(kind.data(h.paths[0]))
    segs = []
    for p in h.paths:
        reader = spark.read.schema(schema) if schema is not None else spark.read
        segs.append(reader.parquet(kind.data(p)))
        schema = schema or segs[0].schema

    def stage(rows: DataFrame, gen: str) -> None:
        kind.write_data(rows, kind.data(h.path(gen)))
        write_record(kind, h.path(gen), record)

    if len(segs) == 1:
        gen = genlog.new_generation_name()
        o_tot, o_kept = Observation(), Observation()
        kind.write_data(
            segs[0]
            .observe(o_tot, F.count(F.lit(1)).alias("n"))
            .join(k, key, "left_anti")
            .observe(o_kept, F.count(F.lit(1)).alias("n")),
            kind.data(h.path(gen)),
        )
        try:
            total, n_kept = o_tot.get["n"] or 0, o_kept.get["n"] or 0
        except Exception:
            # a partitionBy write of ZERO rows plans zero tasks, so the
            # metrics row never materializes and the fetch throws: every
            # row was erased (or there were none) — one count tells which
            total, n_kept = segs[0].count(), 0
        n_erased = total - n_kept
        if n_kept and n_erased:
            write_record(kind, h.path(gen), record)
        else:
            try:  # tidy the useless stage now; vacuum reclaims it on failure
                filesystem, p = listing._resolve_fs(h.path(gen))
                filesystem.delete_dir(p)
            except (FileNotFoundError, OSError):
                pass
            if n_erased == 0:
                return 0
        new_segments = [gen] if n_kept else []
    else:
        stats = _segment_hit_stats(segs, k, key)
        n_erased = sum(hits for _total, hits in stats)
        if n_erased == 0:
            return 0
        new_segments, rewrites = [], []
        for name, seg, (total, hits) in zip(h.segments, segs, stats):
            if hits == 0:
                new_segments.append(name)
            elif hits < total:
                new_segments.append(genlog.new_generation_name())
                rewrites.append((seg.join(k, key, "left_anti"), new_segments[-1]))
        run_overlapped([lambda r=r: stage(*r) for r in rewrites])
    if not new_segments:
        new_segments = [genlog.new_generation_name()]
        placeholder = h.path(new_segments[0])
        local_rows_df(spark, [], schema).write.mode("error").parquet(kind.data(placeholder))
        write_record(kind, placeholder, record)
    first_new = next((s for s in new_segments if s not in h.segments), new_segments[0])
    _commit(spark, h, first_new, "erase", segments=new_segments)
    return n_erased
