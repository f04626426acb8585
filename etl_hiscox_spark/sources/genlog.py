"""Generation-pointer commit log for derived index layouts: the same
manifest-pointer design as :mod:`txnlog` (staged files plus a tiny atomic
commit record), applied to an index directory so its maintenance ops
commit on object stores, where directory rename does not exist.

- a GENERATION is a complete, self-contained index tree under
  ``<root>/gen-<uuid>/`` (buckets+meta for minhash, ``__cluster=``
  partitions + ``_centroids`` for IVF). Data files are immutable once a
  generation is committed; appends stage delta generations;
- ``<root>/_gen_log`` is a :class:`versionlog.VersionLog` — the one
  statement of the commit, head-hint, floor-marker and tombstone
  protocol is that module's docstring. Version N's POINTER record
  carries the SEGMENT LIST that became live at commit N (one segment
  after a build/compact/erase/rebuild; build + one delta per OCC append
  until the next compact merges them — the LSM shape; pre-r13
  single-``generation`` records read unchanged forever). A half-written
  generation is invisible until its pointer commits. Two racing
  maintenance ops collide LOUDLY on the version; the loser re-runs
  against the new live generation (:func:`rerun_on_generation_conflict`),
  never blind-retries;
- APPENDS are OCC commits too: :func:`append_segment` extends the head's
  segment list with a staged delta, carries the ``geometry_id`` epoch (a
  rebuild mid-append is detected, :class:`GeometryChanged`) and the
  ``txn_watermarks`` exactly-once ledger for streaming ingest;
- superseded generations stay on disk, readable, until
  :func:`vacuum_generations` retires the pointer history and deletes the
  directories nothing references — the OPTIMIZE/VACUUM split.
"""

from __future__ import annotations

import contextlib
import contextvars
import json
import logging
import time
import uuid

from etl_hiscox_spark.sources.versionlog import VersionLog, check_root

_LOG = logging.getLogger("etl_hiscox_spark.genlog")

_GEN_LOG = "_gen_log"
_FLOOR = "_floor"
# every N commits the head version is recorded as a resolution hint:
# OCC appends commit one pointer per micro-batch, so the pointer log
# grows at stream cadence
CHECKPOINT_INTERVAL = 10

# instrumentation for tests and plan audits: how the LAST head
# resolution was answered — {"mode": "checkpoint"|"list", "entries": n}
last_head_resolution: dict = {}


def _join(root: str, *parts: str) -> str:
    """URI-safe path join (os.path.join would mangle ``scheme://``)."""
    return "/".join([root.rstrip("/"), *parts])


def new_generation_name() -> str:
    return f"gen-{uuid.uuid4().hex[:12]}"


def pointer_log(root: str, spark=None) -> VersionLog:
    """The pointer log of ``root`` (``spark`` is needed by commits on
    scheme-less roots only)."""
    return VersionLog(root, _GEN_LOG, _FLOOR, spark)


# the split-brain guard shared with TxnTable: a scheme-less root is
# accepted only when fs.defaultFS is file:, else pass a qualified URI
resolve_root = check_root


def is_generational(spark, root: str) -> bool:
    """True when ``<root>/_gen_log`` exists. Index entry points do not ask:
    every read and every maintenance op resolves the head
    (:func:`current_generation`), which rejects a root without a log.
    Among the operators only ``dedup.migrate_flat_index_to_generational``
    asks, to tell a flat tree (or a crashed migration) from a committed
    index. A path pyarrow cannot resolve or reach is answered ``False``."""
    from pyarrow import fs as pafs

    try:
        log = pointer_log(resolve_root(spark, root))
        return log.fs.get_file_info(log.dir).type == pafs.FileType.Directory
    except (OSError, ValueError, KeyError):
        return False


def _head_version(root: str) -> int | None:
    """The pointer log's head (:meth:`VersionLog.head`), mirrored into
    :data:`last_head_resolution`."""
    global last_head_resolution
    log = pointer_log(root)
    head = log.head()
    last_head_resolution = log.last_head_resolution
    return head


def read_pointer(root: str, version: int) -> dict:
    """Pointer record ``version`` of ``root``, read from the log; a
    retired version raises :class:`versionlog.ManifestRetired` (a
    ``FileNotFoundError``)."""
    return pointer_log(root).read(version)


# Scoped race-injection point for tests and the declared race probes
# (ADVICE r13: the probes used to swap the MODULE attribute, which is
# process-global — any concurrent head resolve on the same driver would
# pass through the probe's hook and could fire its injected side effect
# against the wrong call sequence). The contextvar scopes the hook to
# the installing thread/context only.
_HEAD_INTERPOSE: contextvars.ContextVar = contextvars.ContextVar(
    "genlog_head_interpose", default=None
)


@contextlib.contextmanager
def interpose_head_resolution(hook):
    """Install ``hook(real, spark, root) -> (version, gen)`` as THIS
    context's :func:`current_generation` for the duration of the block —
    the supported way to inject a racing commit between an operation's
    head resolve and its pointer commit (the deterministic interleaves
    the collision/delta probes and tests/test_genlog.py drive). While
    the hook itself runs, the interposition is disarmed, so protocol
    calls the hook makes (e.g. firing the racing erase) resolve for real
    without the restore/re-arm dance the module-attribute swap needed.
    Other threads are untouched."""
    token = _HEAD_INTERPOSE.set(hook)
    try:
        yield
    finally:
        _HEAD_INTERPOSE.reset(token)


def current_generation(spark, root: str) -> tuple[int, str]:
    """(pointer version, live generation dir name) — THE head resolution
    every index reader and maintenance op goes through, so it is the one
    place a root without a pointer log is rejected (nothing built there,
    or a flat tree to migrate with
    ``migrate_flat_index_to_generational``). Also loud when the log is
    present but empty (an interrupted first build: the generation data
    may exist but nothing ever became live). Resolution goes through the
    checkpoint hint (:func:`_head_version`) — O(commits-since-checkpoint)
    probes on the hot path, LIST only as fallback."""
    hook = _HEAD_INTERPOSE.get()
    if hook is not None:
        token = _HEAD_INTERPOSE.set(None)  # disarm while the hook runs
        try:
            return hook(_current_generation, spark, root)
        finally:
            _HEAD_INTERPOSE.reset(token)
    return _current_generation(spark, root)


def _current_generation(spark, root: str) -> tuple[int, str]:
    root = resolve_root(spark, root)
    head = _head_version(root)
    if head is None and not is_generational(spark, root):
        raise ValueError(
            f"{root!r} is not a GENERATIONAL index root (no {_GEN_LOG}): "
            "nothing was built there, or it holds a flat index tree — "
            "upgrade a flat tree in place with "
            "migrate_flat_index_to_generational(spark, root)"
        )
    if head is None:
        raise ValueError(
            f"generational index at {root!r} has no committed pointer — "
            "an initial build may have been interrupted before its commit; "
            "re-run the build (staged generations are vacuum-reclaimable)"
        )
    return head, read_pointer(root, head)["generation"]


def pointer_segments(record: dict) -> list[str]:
    """The generation directories a pointer record makes live, in commit
    order — ``segments[0]`` is always the GEOMETRY segment (the one whose
    meta / ``_centroids`` pins the index parameters). Pre-r13 records
    carry no ``segments`` field: their single ``generation`` IS the
    segment list, so old pointers read unchanged forever."""
    return list(record.get("segments") or [record["generation"]])


def live_index_paths(spark, root: str) -> list[str]:
    """The directories a reader must scan: the live pointer's segment
    list (one entry after a build/compact/erase/rebuild; build + one delta
    per OCC append until the next compact merges them — the LSM shape).
    Every index read path calls this once, so both segment shapes share
    all downstream code; a root without a pointer log is rejected by the
    head resolution (:func:`current_generation`)."""
    version, _ = current_generation(spark, root)
    rec = read_pointer(resolve_root(spark, root), version)
    return [_join(root, s) for s in pointer_segments(rec)]


def live_index_path(spark, root: str) -> str:
    """Single-directory form of :func:`live_index_paths` — a head with
    exactly one segment. A multi-segment head (delta appends pending
    compaction) has no single live directory, so this raises rather than
    silently dropping the deltas; multi-segment-capable callers use the
    plural form."""
    paths = live_index_paths(spark, root)
    if len(paths) == 1:
        return paths[0]
    raise ValueError(
        f"generational index at {root!r} has {len(paths)} live segments "
        "(delta appends pending compaction) — this entry point reads one "
        "directory; use live_index_paths, or compact the index first"
    )


def latest_pointer_version(spark, root: str) -> int | None:
    """Highest committed pointer version, or None for a root whose log is
    absent/empty — the ``base_version`` a build captures BEFORE staging.
    Checkpoint-hinted like every head read."""
    return _head_version(resolve_root(spark, root))


def commit_generation(
    spark,
    root: str,
    gen_name: str,
    operation: str,
    base_version: int | None,
    *,
    segments: list[str] | None = None,
    geometry_id: str | None = None,
    txn_watermarks: dict | None = None,
) -> int:
    """Atomically make ``<root>/<gen_name>`` the live generation; returns
    the pointer version. ``base_version`` is the pointer version the
    operation RESOLVED before staging (None for a first build) and the
    commit lands at exactly ``base_version + 1`` create-if-absent — so a
    maintenance op whose input generation was superseded mid-stage gets a
    loud ``FileExistsError``, never a silent publish of stale data (r12
    review: recomputing the version at commit time meant two overlapping
    ops NEVER collided, and e.g. a compact staged from a pre-erase
    generation would resurrect GDPR-erased rows). The loser re-runs
    against the new live generation — :func:`rerun_on_generation_conflict`
    is the bounded re-resolve-and-re-run wrapper; its stage is
    vacuum-reclaimable.

    The commit itself, with the version-reuse guard, is
    :meth:`versionlog.VersionLog.commit`.

    ``segments`` (r13, the OCC-append layout) is the FULL list of
    generation directories this pointer makes live — defaults to
    ``[gen_name]`` (maintenance ops always publish one complete tree);
    an append commits ``parent.segments + [delta]``. ``geometry_id``
    names the index geometry epoch (minted by builds/rebuilds, carried
    by compact/erase/append): an append staged against geometry A can
    detect, before committing, that a rebuild has since published
    geometry B — its staged assignments would be wrong under B
    (:func:`append_segment`). ``txn_watermarks`` ({app_id: highest
    committed batch id}) is the exactly-once ledger for streaming
    appends — EVERY commit must carry the head's watermarks forward
    (maintenance included: a compact that dropped them would let a
    crash-replayed micro-batch land twice)."""
    root = resolve_root(spark, root)
    version = 0 if base_version is None else int(base_version) + 1
    rec = {
        "version": version,
        "generation": gen_name,
        "segments": list(segments) if segments is not None else [gen_name],
        "geometry_id": geometry_id,
        "txn_watermarks": dict(txn_watermarks) if txn_watermarks else {},
        "operation": operation,
        "committed_at": time.time(),
    }
    pointer_log(root, spark).commit(
        version, json.dumps(rec).encode("utf-8"), CHECKPOINT_INTERVAL
    )
    return version


def rerun_on_generation_conflict(op, *args, attempts: int = 3, **kwargs):
    """Bounded re-resolve-and-re-run wrapper for index maintenance
    collisions (r13, VERDICT r12 item 6). A maintenance op that loses the
    pointer race gets ``FileExistsError`` — correct but operationally
    annoying: the right response is always "re-resolve the NEW live
    generation and run the op against it" (a blind retry of the staged
    commit would publish stale data, which is why the ops never retry
    internally). This wrapper does that loop: call ``op(*args,
    **kwargs)``; on a commit collision re-invoke it — every maintenance
    op re-resolves the live generation at entry, so the retry reads the
    post-collision state (pinned by test and by the r13 declared probe:
    an erase landing mid-compact re-runs the compact against the
    post-erase generation, and the erased rows stay erased). Raises after
    ``attempts`` consecutive collisions — pathological contention should
    page an operator, not spin."""
    last: FileExistsError | None = None
    for _ in range(attempts):
        try:
            return op(*args, **kwargs)
        except FileExistsError as exc:
            last = exc
    raise RuntimeError(
        f"index maintenance lost the pointer race {attempts} times "
        f"({getattr(op, '__name__', op)!r}) — pathological maintenance "
        "contention; serialize the schedulers or raise attempts"
    ) from last


class GeometryChanged(Exception):
    """The head's geometry epoch no longer matches the one a staged delta
    was assigned against — a rebuild published new geometry mid-append.
    The delta's contents (cluster assignments / banding) are wrong under
    the new geometry, so the append must RE-STAGE against the new head,
    never re-commit the stale delta (the one failure a bounded pointer
    retry cannot fix)."""


def append_segment(
    spark,
    root: str,
    delta_gen: str,
    *,
    operation: str = "append",
    validate=None,
    txn: tuple[str, int] | None = None,
    attempts: int = 5,
) -> int:
    """OCC-commit a staged DELTA segment onto the live head (r13, ADVICE
    r12: appends previously wrote INTO the committed live generation in
    place — un-raced but mutable, so a compact/erase/rebuild staged from
    the pre-append snapshot silently dropped the appended rows when its
    pointer flipped). Under the segment protocol an append is a commit
    like any other: the new pointer's ``segments`` = the head's segments
    plus ``delta_gen``, landed create-if-absent at ``head + 1``.

    Unlike maintenance commits, a lost pointer race here is RETRIED
    internally: the delta contains ONLY the new rows, so it stays valid
    whoever won — a compact merged the OLD segments (not the delta), an
    erase dropped OLD rows — and re-committing against the new head loses
    nothing. The one exception is a geometry change (rebuild): the
    caller's ``validate(record)`` hook runs against each resolved head
    before committing and raises :class:`GeometryChanged` (IVF: the
    delta's cluster assignments are stale — re-stage) or ``ValueError``
    (minhash: banding parameters differ from the caller's request — user
    error, no restage exists). Returns the committed pointer version.

    ``txn=(app_id, batch_id)`` is the exactly-once upgrade for streaming
    ingest (the same watermark protocol as the txn sink's ``write_txn``):
    each pointer record carries ``txn_watermarks`` ({app_id: highest
    committed batch}), every commit merges the head's watermarks forward
    (maintenance included), and an append whose batch id is at or below
    its app's watermark is a RE-DELIVERY — a foreachBatch replay after a
    crash, or availableNow re-run against a fresh checkpoint — and
    returns the head version WITHOUT committing (its staged delta is
    vacuum-reclaimable debris). Batch ids must be monotone per app_id
    (Structured Streaming's contract for foreachBatch batch ids), and a
    fresh-checkpoint re-run under the same app_id is only a REPLAY when
    the source content is FROZEN: a re-run over a directory that has
    since grown re-bins old and new files together, and a new file
    landing in a low-numbered batch would be skipped as redelivered —
    growing sources resume from their ORIGINAL checkpoint (normal
    streaming operation); fresh-checkpoint re-runs are for disaster
    recovery over an unchanged source.

    Generations stay immutable once committed — the invariant the in-place
    append violated — so a concurrent maintenance read can never observe a
    half-written file, and two racing appends serialize on the version."""
    root = resolve_root(spark, root)
    last: FileExistsError | None = None
    for _ in range(attempts):
        version, _gen = current_generation(spark, root)
        rec = read_pointer(root, version)
        if is_replay(rec, txn):
            return version  # replayed micro-batch: exactly-once no-op
        watermarks = dict(rec.get("txn_watermarks") or {})
        if txn is not None:
            watermarks[str(txn[0])] = int(txn[1])
        if validate is not None:
            validate(rec)
        try:
            return commit_generation(
                spark,
                root,
                delta_gen,
                operation,
                base_version=version,
                segments=pointer_segments(rec) + [delta_gen],
                geometry_id=rec.get("geometry_id"),
                txn_watermarks=watermarks,
            )
        except FileExistsError as exc:
            last = exc
    raise RuntimeError(
        f"append lost the pointer race {attempts} times at {root!r} — "
        "pathological maintenance contention; serialize the schedulers "
        "or raise attempts"
    ) from last


def new_geometry_id() -> str:
    """A fresh geometry epoch — minted by builds and rebuilds, carried
    verbatim by compact/erase/append commits."""
    return uuid.uuid4().hex


def is_replay(record: dict, txn: tuple[str, int] | None) -> bool:
    """THE exactly-once comparison (one place, shared by the pre-staging
    skips and :func:`append_segment`'s authoritative in-loop check): a
    txn-tagged append whose batch id is at or below its app's committed
    watermark in ``record`` is a redelivery."""
    if txn is None:
        return False
    wm = record.get("txn_watermarks") or {}
    return int(txn[1]) <= wm.get(str(txn[0]), -1)


def list_generations(spark, root: str) -> list[dict]:
    """Pointer history, oldest first (the index's DESCRIBE HISTORY).
    A version retired between the LIST and its read (concurrent vacuum)
    is skipped — the answer a call started after that vacuum would
    give."""
    root = resolve_root(spark, root)
    out = []
    for v in pointer_log(root).versions():
        try:
            out.append(read_pointer(root, v))
        except FileNotFoundError:
            continue
    return out


def vacuum_generations(
    spark, root: str, keep_last: int = 1, min_age_seconds: float = 600.0
) -> int:
    """Retention for superseded generations: keep the newest ``keep_last``
    pointer versions, retire the older pointer records
    (:meth:`VersionLog.retire`; a floor marker that cannot land is logged
    and the rest deferred to a later run), then delete every ``gen-*``
    directory no surviving pointer references. Deletions are plain
    recursive DELETEs through ``pyarrow.fs``, object-store-safe. Returns
    the number of generation directories removed.

    Two kinds of unreferenced generation, treated differently (the same
    split as :meth:`txnlog.TxnTable.vacuum`'s retention window):
    once-COMMITTED generations (named by a pointer this call drops) are
    always safe — their maintenance op finished; NEVER-committed trees
    are either crashed stages (safe) or a CONCURRENT op's in-flight
    stage (deleting it corrupts the commit that is about to land), and
    the two are indistinguishable — so orphans younger than
    ``min_age_seconds`` are kept. Pass 0 only when no maintenance op can
    be mid-flight.

    CONCURRENT vacuums are tolerated (r14, found by the multi-actor
    stress): two vacuums race on the same prefix, so every read or
    delete of a pointer file this call listed may find the file already
    gone — that is the OTHER vacuum having done the same work, never
    data loss. Missing pointers are skipped: a skipped old record can
    only SHRINK the ever-committed set, which flips its segments into
    the never-committed branch where the age gate keeps anything a
    concurrent op could still reference (commits that landed after this
    call's LIST are protected the same way — their generations are
    younger than ``min_age_seconds`` by construction)."""
    from pyarrow import fs as pafs

    root = resolve_root(spark, root)
    if keep_last < 1:
        raise ValueError(f"keep_last must be >= 1, got {keep_last}")
    log = pointer_log(root, spark)
    versions = log.versions()
    if not versions:
        raise ValueError(f"{root!r} has no committed pointer — nothing to vacuum")
    keep = versions[-keep_last:]
    # refresh the head hint first: vacuum retires a PREFIX of pointer
    # names, and a hint pointing into that prefix would force every head
    # read onto the LIST fallback until the next checkpoint boundary
    log.write_hint(versions[-1])

    def _segments_or_none(v: int) -> list[str] | None:
        try:
            return pointer_segments(read_pointer(root, v))
        except (FileNotFoundError, OSError):
            return None  # trimmed by a concurrent vacuum mid-call

    # union over SEGMENTS, not just the committing generation: an append
    # pointer keeps every parent segment live, so a build segment referenced
    # by the newest pointer survives however old its own commit is (r13)
    ever_committed: set[str] = set()
    live: set[str] = set()
    for v in versions:
        segs = _segments_or_none(v)
        if segs is None:
            if v in keep:
                # a KEEP pointer vanished: the concurrent vacuum advanced
                # PAST this call's snapshot (>= keep_last newer commits
                # landed since our LIST), so this liveness view is stale —
                # an old by-reference segment could look unreferenced here
                # while the real head still names it. Directory reclamation
                # belongs to the vacuum holding the newer snapshot (or the
                # next scheduled run); the prefix trim below this point has
                # not started, so nothing was deleted under the stale view.
                # Logged (r15, VERDICT r14 "what's wrong" #1): a bare 0 is
                # indistinguishable from "nothing to reclaim" to a
                # scheduler watching return values.
                _LOG.warning(
                    "vacuum_generations at %r: snapshot went stale mid-call "
                    "(keep pointer v%d vanished under a concurrent vacuum) — "
                    "deferring directory reclamation to the next run",
                    root, v,
                )
                return 0
            continue
        ever_committed.update(segs)
        if v in keep:
            live.update(segs)
    # retire the pointer prefix; a marker that cannot land defers the
    # rest to a later run, and directory reclamation below is independent
    victims = versions[:-keep_last]
    if not log.retire(victims, min_age_seconds):
        _LOG.warning(
            "vacuum_generations at %r: %s", root, log.unmarked(victims[-1])
        )
    cutoff = time.time() - min_age_seconds
    removed = 0
    for info in log.fs.get_file_info(pafs.FileSelector(log.base, recursive=False)):
        if (
            info.type != pafs.FileType.Directory
            or not info.base_name.startswith("gen-")
            or info.base_name in live
        ):
            continue
        if info.base_name not in ever_committed:
            # never-committed: possibly an in-flight stage — age-gate it
            mtime = info.mtime.timestamp() if info.mtime else 0.0
            if mtime > cutoff:
                continue
        try:
            log.fs.delete_dir(info.path)
        except (FileNotFoundError, OSError):
            continue  # already reclaimed by the racing vacuum
        removed += 1
    return removed
