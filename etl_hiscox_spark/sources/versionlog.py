"""One versioned log of JSON records: the commit protocol both commit
logs run (the Delta Lake log pattern, Armbrust et al., VLDB 2020). The
index generation-pointer log (:mod:`genlog`, ``<root>/_gen_log``) and the
txn-table manifest log (:mod:`txnlog`, ``<root>/_txn_log``) differ only
in their directory name and their retention-marker prefix (``_floor`` /
``_expired``); everything below is written once, here, and runs only
through ``pyarrow.fs`` (:func:`listing._resolve_fs`) and
:mod:`commitio`, so a ``file://`` or scheme-less local root runs the
exact code an ``s3://`` or ``hdfs://`` deployment runs.

Layout of the log directory:

- ``v{N}.json`` — the record committed at version N. Versions are dense:
  a commit lands create-if-absent at exactly ``base + 1``
  (:func:`commitio.commit_if_absent`), so two writers racing one version
  collide loudly and the loser re-resolves, never overwrites.
- ``_last_checkpoint`` — a head HINT ``{"version": N}``, replaced every
  ``hint_every`` commits. Head resolution reads it, checks the named
  version exists, and probes forward to the first missing version:
  O(commits since the hint), no LIST. A missing, torn or dangling hint
  falls back to one LIST; a stale hint can only under-estimate, and the
  probe corrects it.
- ``{marker}`` + ``{marker}_v{F}`` — retention markers. Before (or, on
  atomic-replace stores, right after) retiring versions up to F,
  retention commits the sentinel and the ``_v{F}`` marker, both
  create-if-absent and never replaced, so the floor (max marker) is
  monotonic even under racing retention runs. Markers below the newest
  are garbage-collected once the newest has landed.
- ``v{N}.retired`` — an empty sidecar naming a retired version. Retention
  REPLACES ``v{N}.json`` with a tombstone record instead of deleting it,
  so the name keeps refusing create-if-absent (a stale writer fails
  naturally), and the sidecar keeps the live-version listing name-based:
  one LIST, no GET per file. A tombstone reads as :class:`ManifestRetired`.

Version-number reuse guard. A commit staged from a stale head resolve
could otherwise land at a retired version number, below the surviving
prefix, where the next retention run silently trims it (a lost write).
Two checks close it:

- PRE-link: a version at or below the floor is refused before anything
  lands. This covers names freed by coalescing (below).
- POST-link: the floor may advance while the commit is in flight. If it
  now covers the version, the name is read back and classified by
  CONTENT. The committer's own bytes mean a true stale reuse that slipped
  the pre-link check: the record is unwound and the commit refused. A
  tombstone or a missing file means this fresh commit landed live and was
  then legitimately retired (newer commits carry it forward): success,
  not a conflict, so the caller does not re-append. Unreadable states
  count as success, because failing a landed commit makes its retry
  double-commit.

Retention (:meth:`VersionLog.retire`) runs in a store-class order
(:func:`commitio.replace_is_atomic`):

- atomic-replace stores (local POSIX rename, a hooked single-shot S3
  PUT): tombstone the victims FIRST, then commit the marker. A name is
  never absent mid-replace there, so stragglers are refused by the name
  itself, and by the time any post-link check can see the floor cover
  its version, the content is already a tombstone. The false-unwind
  window is zero wide.
- rename-refusing stores (HDFS-class, no replace hook): marker FIRST.
  ``replace_put`` is delete+move there, with an absence window a
  straggler's create-if-absent could win; committing the marker first
  keeps every committer that reads the floor afterwards out of it. The
  cost is a one-replace-wide false-unwind window for the newest victim,
  irreducible without a conditional-replace primitive.

Both orders retire the NEWEST victim first. If the marker cannot land,
retention reports it (each caller keeps its own contract: genlog warns
and defers, TxnTable raises); on atomic stores the tombstoned names are a
safe residue, on rename-refusing stores nothing was retired. Every run
also finishes half-retired pairs (a sidecar whose content replace was
lost: delisted, yet still serving the record), age-gated on the record's
``committed_at`` so a writer's in-flight post-link check is never
overtaken, and COALESCES tombstone pairs the floor already covered before
this run: they survived one full cycle, and the pre-link check keeps
their freed names refused. A pair whose content is unreadable, or live,
is skipped for the next run to decide.
"""

from __future__ import annotations

import json
import re
import time

from etl_hiscox_spark.sources import commitio, listing

# pyarrow.fs is imported inside the methods that need it: this module is on
# the import path of every Python worker that unpickles an index UDF
# (operators -> segindex -> genlog), where the import costs ~10 ms per start
_CKPT_NAME = "_last_checkpoint"
_VERSION_RE = re.compile(r"^v(\d+)\.json$")
_RETIRED_RE = re.compile(r"^v(\d+)\.retired$")


class ManifestRetired(FileNotFoundError):
    """A version whose content is a retention TOMBSTONE. Subclasses
    ``FileNotFoundError`` so every handler that treated a deleted record
    as gone keeps working, while the tolerant readers can classify by
    content: only retention writes a tombstone, so it proves expiry
    without consulting the floor (which, on atomic stores, lands after
    the tombstones)."""


def check_root(spark, root: str) -> str:
    """Guard against split-brain resolution: ``pyarrow.fs`` treats a
    scheme-less path as driver-local, Spark resolves it against
    ``fs.defaultFS``. On a cluster with a non-file defaultFS the log would
    land on the driver's disk while the data goes to the cluster FS, so
    scheme-less roots are accepted only when defaultFS is ``file:``."""
    if "://" in root or listing._meta_is_local(spark, root):
        return root
    raise ValueError(
        f"log root {root!r} is scheme-less but fs.defaultFS is not file: — "
        "pass a fully-qualified URI so the log and the data resolve to the "
        "SAME filesystem"
    )


class VersionLog:
    """The log at ``<root>/<log_dir>`` with ``marker``-prefixed retention
    markers. ``spark`` is only consulted by commits on scheme-less roots
    (:func:`commitio.commit_if_absent`'s driver-local check)."""

    def __init__(self, root: str, log_dir: str, marker: str, spark=None):
        self.spark = spark
        self.uri = f"{root.rstrip('/')}/{log_dir}"
        self.fs, base = listing._resolve_fs(root)
        self.base = base.rstrip("/")
        self.dir = f"{self.base}/{log_dir}"
        self.marker = marker
        self._floor_re = re.compile(rf"^{re.escape(marker)}_v(\d+)$")
        # how the LAST head() was answered: {"mode": "checkpoint"|"list", "entries": n}
        self.last_head_resolution: dict | None = None

    def path(self, name: str) -> str:
        return f"{self.dir}/{name}"

    def _delete(self, name: str) -> bool:
        """Delete one log file; already gone counts as deleted (a racing
        run did the same work). False on any other store error."""
        try:
            self.fs.delete_file(self.path(name))
        except FileNotFoundError:
            pass
        except OSError:
            return False
        return True

    # -- listing and reads ---------------------------------------------------

    def names(self) -> list[str]:
        """The one LIST of the log directory (empty when it is absent)."""
        from pyarrow import fs as pafs

        infos = self.fs.get_file_info(
            pafs.FileSelector(self.dir, recursive=False, allow_not_found=True)
        )
        return [i.base_name for i in infos]

    def versions(self) -> list[int]:
        """LIVE versions, sorted: every ``v{N}.json`` without a
        ``v{N}.retired`` sidecar. A tombstone whose sidecar write was lost
        lists as live and its read raises :class:`ManifestRetired`."""
        names = self.names()
        retired = {int(m.group(1)) for m in map(_RETIRED_RE.match, names) if m}
        return sorted(
            v
            for m in map(_VERSION_RE.match, names)
            if m and (v := int(m.group(1))) not in retired
        )

    def exists(self, version: int) -> bool:
        from pyarrow import fs as pafs

        info = self.fs.get_file_info(self.path(f"v{version}.json"))
        return info.type == pafs.FileType.File

    def read(self, version: int) -> dict:
        """The record of version ``version``; raises
        :class:`ManifestRetired` on a tombstone."""
        with self.fs.open_input_file(self.path(f"v{version}.json")) as f:
            rec = json.loads(f.read().decode("utf-8"))
        if rec.get("tombstone"):
            raise ManifestRetired(
                f"v{version} at {self.uri!r} was retired by vacuum (expired by "
                "retention) — the version is no longer readable; re-resolve "
                "the live head"
            )
        return rec

    # -- head hint and resolution --------------------------------------------

    def read_hint(self) -> int | None:
        """The recorded head hint, or None (absent, unreadable, torn)."""
        try:
            with self.fs.open_input_file(self.path(_CKPT_NAME)) as f:
                return int(json.loads(f.read().decode("utf-8"))["version"])
        except (OSError, ValueError, KeyError, TypeError):
            return None

    def write_hint(self, version: int) -> None:
        """Record ``version`` as a known-committed head. Last-writer-wins
        is correct (every writer records a version it committed; readers
        probe forward), and failures are swallowed: the commit the hint
        describes has already landed."""
        try:
            commitio.replace_put(
                self.fs,
                self.path(_CKPT_NAME),
                json.dumps({"version": int(version)}).encode("utf-8"),
            )
        except OSError:
            pass

    def drop_hint(self) -> None:
        """Remove the hint; readers fall back to the LIST, always correct."""
        self._delete(_CKPT_NAME)

    def head(self) -> int | None:
        """Highest committed version, or None for an absent/empty log."""
        hint = self.read_hint()
        if hint is None or not self.exists(hint):
            versions = self.versions()
            self.last_head_resolution = {"mode": "list", "entries": len(versions)}
            return versions[-1] if versions else None
        v, probes = hint, 1
        while self.exists(v + 1):
            v, probes = v + 1, probes + 1
        self.last_head_resolution = {"mode": "checkpoint", "entries": probes}
        return v

    # -- retention markers ---------------------------------------------------

    def marked_ever(self) -> bool:
        from pyarrow import fs as pafs

        info = self.fs.get_file_info(self.path(self.marker))
        return info.type == pafs.FileType.File

    def read_floor(self) -> int:
        """Highest version retention ever covered, or -1 (never)."""
        return max(
            (int(m.group(1)) for m in map(self._floor_re.match, self.names()) if m),
            default=-1,
        )

    def mark(self, floor: int) -> None:
        """Commit the sentinel and the marker for a retirement through
        ``floor``; already present is a racing run's identical work.
        Raises on store failure."""
        for name in (self.marker, f"{self.marker}_v{floor}"):
            try:
                commitio.commit_if_absent(self.spark, f"{self.uri}/{name}", b"")
            except FileExistsError:
                pass

    def _covered(self, version: int) -> bool:
        """``version`` at or below the floor; a store error reads as
        "unknown" and answers False (the post-link check backstops)."""
        try:
            return self.marked_ever() and version <= self.read_floor()
        except OSError:
            return False

    # -- commits -------------------------------------------------------------

    def _retired_error(self, version: int) -> FileExistsError:
        return FileExistsError(
            f"v{version} at {self.uri!r} was already retired by vacuum (a "
            "stale head resolve spanning a retention run) — re-resolve the "
            "log head and re-run"
        )

    def commit(self, version: int, raw: bytes, hint_every: int) -> None:
        """Commit ``raw`` at ``version`` create-if-absent, with both halves
        of the reuse guard (module docstring); raises ``FileExistsError``
        on a collision or a refused stale reuse. Refreshes the head hint
        every ``hint_every`` versions."""
        if self._covered(version):
            raise self._retired_error(version)
        try:
            commitio.commit_if_absent(self.spark, f"{self.uri}/v{version}.json", raw)
        except FileExistsError as exc:
            raise FileExistsError(
                f"v{version} at {self.uri!r} already committed — concurrent "
                "commit race; re-resolve the log head and re-run"
            ) from exc
        if self._covered(version):
            try:
                with self.fs.open_input_file(self.path(f"v{version}.json")) as f:
                    mine = f.read() == raw
            except OSError:
                mine = False  # tombstoned and coalesced, or unreadable: landed
            if mine:
                self._delete(f"v{version}.json")
                raise self._retired_error(version)
        if version > 0 and version % hint_every == 0:
            self.write_hint(version)

    def replace(self, version: int, raw: bytes) -> None:
        """Replace a committed record IN PLACE (erase repointing and
        tombstones only; commits go through :meth:`commit`). Atomic on
        atomic-replace stores; a brief absence window on rename-refusing
        ones."""
        commitio.replace_put(self.fs, self.path(f"v{version}.json"), raw)

    # -- retention -----------------------------------------------------------

    def retire_is_atomic(self) -> bool:
        return commitio.replace_is_atomic(self.fs)

    def _tombstone(self, version: int) -> None:
        try:
            self.replace(
                version,
                json.dumps({"tombstone": True, "retired_at": time.time()}).encode(
                    "utf-8"
                ),
            )
        except OSError:
            pass  # half-retired: the next run's repair finishes it

    def _retire_one(self, version: int) -> None:
        """Sidecar first (listing), then the tombstone content replace.
        Store errors are absorbed: a skipped victim is retried next run."""
        try:
            commitio.replace_put(self.fs, self.path(f"v{version}.retired"), b"")
        except OSError:
            return
        self._tombstone(version)

    def _repair(self, min_age_seconds: float) -> None:
        """Finish half-retired pairs whose record is older than the age
        gate (a younger one's writer may still be classifying it)."""
        cutoff = time.time() - min_age_seconds
        for m in map(_RETIRED_RE.match, self.names()):
            if not m:
                continue
            try:
                rec = self.read(int(m.group(1)))
            except (OSError, ValueError):
                continue  # tombstone, coalesced, transient or torn
            if rec.get("committed_at", 0.0) <= cutoff:
                self._tombstone(int(m.group(1)))

    def _coalesce(self, floor_before: int) -> None:
        """Delete tombstone pairs at or below the floor recorded before
        this run. Only tombstoned (or already deleted) content goes; a
        live record is a crashed stale commit's leftover and an
        unreadable one is left for the next run."""
        for name in self.names():
            m = _RETIRED_RE.match(name)
            if not m or int(m.group(1)) > floor_before:
                continue
            try:
                self.read(int(m.group(1)))
                continue
            except FileNotFoundError:
                pass
            except (OSError, ValueError):
                continue
            if self._delete(f"v{m.group(1)}.json"):
                self._delete(name)

    def retire(self, victims: list[int], min_age_seconds: float) -> bool:
        """One retention run: repair half-retired pairs, then retire
        ``victims`` (ascending) in the store-class order, coalesce, and
        drop superseded markers. Returns whether the marker for
        ``victims[-1]`` landed (True when there were no victims); when it
        did not, :meth:`unmarked` describes the state left behind."""
        self._repair(min_age_seconds)
        if not victims:
            return True
        try:
            floor_before = self.read_floor() if self.marked_ever() else -1
        except OSError:
            floor_before = -1  # unknown: coalesce nothing this run
        atomic = self.retire_is_atomic()
        if atomic:
            for v in reversed(victims):
                self._retire_one(v)
        try:
            self.mark(victims[-1])
        except OSError:
            return False
        if not atomic:
            for v in reversed(victims):
                self._retire_one(v)
        self._coalesce(floor_before)
        for m in map(self._floor_re.match, self.names()):
            if m and int(m.group(1)) < victims[-1]:
                self._delete(m.group(0))
        return True

    def unmarked(self, floor: int) -> str:
        """What a :meth:`retire` whose marker did not land left behind."""
        if self.retire_is_atomic():
            return (
                f"victims tombstoned but the {self.marker} marker for "
                f"v{floor} did not land — tombstoned names keep refusing "
                "commits naturally (safe state); coalescing and marker "
                "cleanup defer to a later run whose marker covers them"
            )
        return (
            f"could not commit the {self.marker} marker for v{floor} — "
            "refusing to retire versions without it (a concurrent commit "
            "could otherwise silently reuse a retired version number); "
            "nothing was retired"
        )
