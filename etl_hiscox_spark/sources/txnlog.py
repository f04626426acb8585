"""Minimal transaction-log table format (SURVEY.md §2.1 S3 upgrade).

The reference writes Delta (``scripts/ingestion.py:94-98``: append with
schema merging); delta-spark is not deployable in this container, and the
plain-parquet emulation in :mod:`writers` loses the two properties Delta
actually provides — an atomic commit point and readable history. This
module restores both with the same public design Delta/Iceberg use
(an ordered log of versioned manifests; see the Delta Lake VLDB'20 paper):

- ``_txn_log`` is a :class:`versionlog.VersionLog`: version N's MANIFEST
  lists the ACTIVE data files + schema, readers resolve the latest
  version and read exactly those files (a half-written data file is
  invisible until its manifest commits), and head resolution runs off the
  ``_last_checkpoint`` hint every ``checkpoint_interval`` commits. The
  commit, hint, ``_expired`` watermark and tombstone protocol is stated
  once, in that module's docstring; every manifest and data-file IO here
  runs through ``pyarrow.fs``, so a local root runs the exact code an
  ``s3://`` or ``hdfs://`` deployment runs.
- ``mode="append"`` adds files (schema widened by merge, missing columns
  read as NULL); ``mode="overwrite"`` starts a fresh file set. Old files
  are never mutated, so every prior version stays readable: time travel.
- A version reads as ONE parquet scan pinned to its manifest schema;
  the merge rule (:func:`_wider`) only records types the reader can
  widen every file to (:meth:`TxnTable.read`).
- Multi-writer optimistic concurrency (r12): data files land under
  unique names first, then the manifest commit loops re-read latest →
  re-merge file list → create-if-absent, retrying on the
  ``FileExistsError`` a version collision raises — Delta's OCC protocol.
  ``write_txn`` re-validates its idempotency watermark inside the loop,
  so two racing producers replaying the same batch land it exactly once.
- GDPR ``erase_keys`` is the one writer that REPLACES manifests in place.

It documents exactly which Delta semantics the pipeline relies on, and it
swaps out for real Delta/Iceberg by replacing TxnTable with
``spark.read.format("delta")`` at deployment.
"""

from __future__ import annotations

import json
import logging
import time
import uuid

from pyarrow import fs as pafs
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from etl_hiscox_spark.sources.versionlog import ManifestRetired, VersionLog, check_root

_LOG = logging.getLogger("etl_hiscox_spark.txnlog")


def _is_missing_path_error(exc: BaseException) -> bool:
    """True when a Spark read failed because a planned input file is gone
    — racing an in-place manifest repoint (erase_keys) or a retention
    sweep, not a schema/IO fault. Matched on Spark's stable error class."""
    s = str(exc)
    return "PATH_NOT_FOUND" in s or "Path does not exist" in s


_LOG_DIR = "_txn_log"
_EXPIRED = "_expired"


# integral family (tens digit 0) and fractional family (tens digit 1)
_NUMERIC_WIDTH = {
    "byte": 0, "short": 1, "integer": 2, "long": 3,
    "float": 10, "double": 11,
}


def _wider(a: T.DataType, b: T.DataType) -> T.DataType | None:
    """The wider of two column types, or None when they conflict: equal
    types pass through, numeric types widen within their family — the
    widenings Spark 4's parquet reader applies to a file read as the
    manifest schema. Shared by the append merge and erase_keys."""
    if a == b:
        return a
    wa, wb = _NUMERIC_WIDTH.get(a.typeName()), _NUMERIC_WIDTH.get(b.typeName())
    if wa is None or wb is None or wa // 10 != wb // 10:
        return None
    return b if wb > wa else a


def _merge_schema_json(base_json: str, new_json: str) -> str:
    """Union of two schema JSONs: base fields first (their order is the
    table's), new-only fields appended. A field present in BOTH resolves
    to :func:`_wider` regardless of write order (r13: the previous
    last-write-wins rule let an int append onto a bigint column narrow
    the recorded type below the table's own files); any other conflict
    is REJECTED at write time, the contract Delta applies to
    incompatible type changes on append. Top-level only — nested struct
    evolution is out of scope for this format."""
    base = T.StructType.fromJson(json.loads(base_json))
    new = T.StructType.fromJson(json.loads(new_json))
    new_by_name = {f.name: f for f in new.fields}

    def resolve(old_f: T.StructField, new_f: T.StructField) -> T.StructField:
        t = _wider(old_f.dataType, new_f.dataType)
        if t is None:
            raise ValueError(
                f"txn append: column {old_f.name!r} would change type "
                f"{old_f.dataType.simpleString()} -> "
                f"{new_f.dataType.simpleString()} — incompatible with the "
                "committed schema; cast the batch explicitly or overwrite"
            )
        return new_f if t == new_f.dataType else old_f

    fields = [
        resolve(f, new_by_name.pop(f.name)) if f.name in new_by_name else f
        for f in base.fields
    ]
    fields += [f for f in new.fields if f.name in new_by_name]
    return T.StructType(fields).json()


class TxnTable:
    """A parquet table with a versioned-manifest transaction log.

    ``checkpoint_interval``: every N commits the head version is recorded
    in ``_txn_log/_last_checkpoint`` so head reads probe O(tail) instead
    of LISTing the whole manifest dir (module docstring).
    """

    def __init__(self, spark: SparkSession, path: str, checkpoint_interval: int = 10):
        self.spark = spark
        self.path = path
        if checkpoint_interval < 1:
            raise ValueError(
                f"checkpoint_interval must be >= 1, got {checkpoint_interval}"
            )
        self.checkpoint_interval = checkpoint_interval
        self.log = VersionLog(check_root(spark, path), _LOG_DIR, _EXPIRED, spark)
        # the table's filesystem and base path: data files live beside the log
        self.fs, self.base = self.log.fs, self.log.base

    @property
    def last_head_resolution(self) -> dict | None:
        """How the LAST :meth:`latest_version` resolved (tests and the x16
        probe pin the O(tail) head-read contract on it)."""
        return self.log.last_head_resolution

    def _versions(self) -> list[int]:
        """LIVE manifest versions — maintenance/history surfaces only; the
        head-read hot path is :meth:`latest_version`."""
        return self.log.versions()

    def latest_version(self) -> int | None:
        """Head resolution through the checkpoint hint
        (:meth:`VersionLog.head`): O(commits-since-checkpoint) exists
        probes, the full LIST only as fallback."""
        return self.log.head()

    def _read_manifest(self, version: int) -> dict:
        """Manifest ``version``; a version retired by :meth:`expire_versions`
        raises :class:`versionlog.ManifestRetired` — time travel to an
        expired version fails loudly."""
        return self.log.read(version)

    def _commit(self, version: int, manifest: dict) -> None:
        """Atomic create-if-absent commit of ``manifest`` at ``version``
        (:meth:`VersionLog.commit`): a concurrent writer that won the
        version makes it raise ``FileExistsError``, like Delta's
        optimistic concurrency."""
        self.log.commit(
            version, json.dumps(manifest).encode("utf-8"), self.checkpoint_interval
        )

    def _read_manifest_tolerant(self, version: int, op: str) -> dict | None:
        """Read manifest ``version``, classifying concurrent-maintenance
        absence (r15, ADVICE r14): returns the manifest; None when the
        version was concurrently EXPIRED (at or below the expire
        watermark — skipping it gives exactly the answer a call started
        after that expiry would give, because expiry is prefix-only and
        append manifests carry their cumulative file list forward); and
        raises RuntimeError, after bounded backoff retries, when the
        manifest is listed but unreadable for any OTHER reason — an
        in-flight erase_keys repoint (the documented no-file window on
        rename-refusing stores) or a store fault — because treating a
        repointing version as gone would silently serve/reclaim the
        wrong state. The retries (50/150/450 ms) ride out a slow REPLACE
        on a high-latency store (VERDICT r14 "what's wrong" #2: one fixed
        50 ms sleep refused spuriously there)."""
        last: Exception | None = None
        for delay in (0.0, 0.05, 0.15, 0.45):
            if delay:
                time.sleep(delay)
            try:
                return self._read_manifest(version)
            except ManifestRetired:
                # tombstone content: only retention writes it, so this is
                # proof of expiry by itself — no watermark consult (r17:
                # under the zero-width ordering the tombstone can land
                # before the watermark marker; classifying by content
                # keeps a crashed tombstoned-but-unmarked expire from
                # turning readers of that version into RuntimeErrors)
                return None
            except (FileNotFoundError, OSError) as exc:
                if version <= self.log.read_floor():
                    return None  # provably expired concurrently
                last = exc
        _LOG.warning(
            "%s at %r: manifest v%d is listed but unreadable and above the "
            "expire watermark — likely an in-flight manifest replace; "
            "refusing rather than guessing (re-run after maintenance settles)",
            op, self.path, version,
        )
        raise RuntimeError(
            f"{op} at {self.path!r}: manifest v{version} is listed but "
            "unreadable and above the expire watermark — likely an "
            "in-flight manifest replace; re-run after maintenance settles"
        ) from last

    # -- write path ----------------------------------------------------------

    def _precheck_append_schema(self, df: DataFrame, mode: str) -> None:
        """Fail an incompatible append BEFORE the batch is staged (r13
        review): the authoritative merge runs inside the OCC commit loop,
        but by then a full distributed write has already landed under
        ``data/`` — a misconfigured producer would pay that write and
        strand an orphan batch dir on every rejected attempt. Advisory
        only (the head can move before the commit); raises the same
        ValueError the committed-path merge would."""
        if mode != "append":
            return
        prev = self.latest_version()
        if prev is not None:
            _merge_schema_json(self._read_manifest(prev)["schema"], df.schema.json())

    def _write_batch(self, df: DataFrame, prefix: str) -> list[str]:
        """Write ``df`` into a fresh uuid batch dir under ``data/`` and
        return the table-relative parquet file paths — the one place the
        physical file layout is defined (write and erase both use it)."""
        batch_dir = f"{prefix}-{uuid.uuid4().hex}"
        out_dir = "/".join([self.path.rstrip("/"), "data", batch_dir])
        df.write.mode("error").parquet(out_dir)
        infos = self.fs.get_file_info(
            pafs.FileSelector(f"{self.base}/data/{batch_dir}", recursive=False)
        )
        return sorted(
            f"data/{batch_dir}/{i.base_name}"
            for i in infos
            if i.base_name.endswith(".parquet")
        )

    def write(
        self,
        df: DataFrame,
        mode: str = "append",
        txn: dict | None = None,
        operation: str | None = None,
        max_commit_attempts: int = 20,
        expected_prev: int | None = None,
    ) -> int:
        """Write ``df`` as a new committed version; returns the version.

        Data files land under ``data/`` with unique names BEFORE the
        manifest commits — a crash mid-write leaves orphan files (cleaned
        by vacuum), never a torn table. ``txn`` ({app_id: txn_version})
        rides the manifest for the idempotent-writer protocol
        (:meth:`write_txn`). ``operation`` labels the commit in history
        (e.g. ``OPTIMIZE`` from :meth:`compact`).

        Multi-writer OCC (r12): when a concurrent writer wins the version,
        the create-if-absent commit raises ``FileExistsError``; the loop
        re-reads the new latest manifest, re-merges the file list
        (append keeps BOTH writers' batches — the write sets are disjoint
        uuid dirs, so the merge is conflict-free, Delta's AddFile logic),
        and retries at version+1, up to ``max_commit_attempts``.
        """
        self._precheck_append_schema(df, mode)
        new_files = self._write_batch(df, "batch")
        v = self._commit_files(
            new_files, df.schema.json(), mode, txn, operation, None,
            max_commit_attempts, expected_prev=expected_prev,
        )
        # unreachable None: only a txn_guard (write_txn) can abort the loop
        assert v is not None
        return v

    def _commit_files(
        self,
        new_files: list[str],
        schema_json: str,
        mode: str,
        txn: dict | None,
        operation: str | None,
        txn_guard: tuple[str, int] | None,
        max_commit_attempts: int,
        expected_prev: int | None = None,
    ) -> int | None:
        """The OCC commit loop shared by :meth:`write` and
        :meth:`write_txn`: staged data files are fixed; the (version,
        file-list) pair is recomputed from the LATEST manifest on every
        attempt. ``txn_guard=(app_id, txn_version)`` re-validates the
        idempotency watermark against the re-read log before each attempt
        — if a racing writer landed the same (or a later) txn_version
        while we staged, returns None WITHOUT committing; the staged
        files become vacuum-reclaimable orphans (exactly-once wins over
        wasted IO).

        ``expected_prev`` pins the commit to a SNAPSHOT: the write is
        only valid against exactly that head (OPTIMIZE rewrites the rows
        it read), so any commit that landed since — collision or a moved
        head — raises a loud conflict instead of retrying; a blind retry
        would publish the stale snapshot and silently drop the
        concurrent append from the table head (r12 review). Delta fails
        OPTIMIZE on conflict the same way; the caller re-runs."""
        if mode not in ("append", "overwrite"):
            raise ValueError(f"mode must be append|overwrite, got {mode!r}")
        if max_commit_attempts < 1:
            raise ValueError(
                f"max_commit_attempts must be >= 1, got {max_commit_attempts}"
            )
        last_err: FileExistsError | None = None
        for _ in range(max_commit_attempts):
            prev = self.latest_version()
            if expected_prev is not None and prev != expected_prev:
                raise RuntimeError(
                    f"snapshot commit conflict at {self.path!r}: the head "
                    f"moved from v{expected_prev} to v{prev} since the "
                    "snapshot was read — re-run the operation against the "
                    "new head (a retry would drop the concurrent commit)"
                )
            # the guard scan must come AFTER the version read (and the
            # commit target prev+1 must NOT be re-read after it): version
            # numbers are dense, so if two writers race the same
            # (app_id, txn_version), whichever commits at the LOWER
            # version u is visible to the other's guard scan — the other
            # read latest >= u before scanning (dense versions: reading
            # v-1 proves every manifest <= v-1 existed) — and equal
            # targets contend on the create-if-absent itself. Scanning
            # before the read (or re-reading after the scan) reopens a
            # window where a duplicate landing in between commits twice.
            if txn_guard is not None:
                app_id, txn_version = txn_guard
                last = self.last_txn_version(app_id)
                if last is not None and txn_version <= last:
                    return None
            committed_schema = schema_json
            inherited: list[str] = []
            if mode == "append" and prev is not None:
                old = self._read_manifest(prev)
                inherited = list(old["files"])
                files = old["files"] + new_files
                # the committed schema is the MERGE of the table's current
                # schema and this write's (prev fields first, new fields
                # appended) — recording only df.schema would drop columns
                # a racing (or merely narrower) append didn't carry, and
                # every reader of this version would silently lose them
                committed_schema = _merge_schema_json(old["schema"], schema_json)
            else:
                files = new_files
            version = 0 if prev is None else prev + 1
            manifest = {
                "version": version,
                "mode": mode,
                "files": files,
                "schema": committed_schema,
                "committed_at": time.time(),
                "n_added": len(new_files),
            }
            if operation:
                manifest["operation"] = operation
            if txn:
                manifest["txn"] = {str(k): int(v) for k, v in txn.items()}
            try:
                self._commit(version, manifest)
            except FileExistsError as exc:
                last_err = exc
                continue
            if mode == "append" and prev is not None:
                self._sync_inherited_files(version, prev, inherited)
            return version
        raise RuntimeError(
            f"txn commit lost the version race {max_commit_attempts} times "
            f"at {self.path!r} — a pathologically hot table; raise "
            "max_commit_attempts or serialize the writers"
        ) from last_err

    def _sync_inherited_files(
        self, version: int, prev: int, inherited: list[str]
    ) -> None:
        """Post-commit repair of the append-vs-erase repoint race (r17).

        An append's file list is (parent manifest's files) + (this batch),
        read BEFORE the create-if-absent link. ``erase_keys`` REPLACES
        manifests in place, so an erase that repoints the parent between
        that read and our link leaves the fresh version referencing
        pre-erase files the erase deletes last — a permanently unreadable
        version (and, pre-delete, un-erased subject rows at this
        version). Re-read the parent AFTER the link: while our manifest
        still carries an inherited entry the parent no longer lists
        (only erase repoints in place, so divergence proves an erase),
        republish our manifest as (parent's current files) + (our entries
        that were never inherited — the batch, or erase-replaced names an
        erase's own recheck already mapped). Terminates when a fresh read
        of both manifests agrees; erase's pre-delete repoint-until-clean
        pass covers the interleavings where our last write lands before
        its scan. Parent expired mid-sync: prefix-only retention — newer
        manifests carry the cumulative list forward, nothing to sync.
        """
        inherited_set = set(inherited)
        for _ in range(10):
            cur = self._read_manifest_tolerant(prev, "append file sync")
            if cur is None:
                return
            cur_files = list(cur["files"])
            mine = self._read_manifest_tolerant(version, "append file sync")
            if mine is None:
                return
            stale = [
                f
                for f in mine["files"]
                if f in inherited_set and f not in set(cur_files)
            ]
            if not stale:
                return
            seen = set(cur_files)
            extras = [
                f
                for f in mine["files"]
                if f not in inherited_set and f not in seen
            ]
            mine["files"] = cur_files + extras
            self._replace_manifest(version, mine)
        raise RuntimeError(
            f"append file sync at {self.path!r}: v{version}'s inherited "
            f"file list kept diverging from v{prev} after 10 repair passes "
            "— quiesce the erase stream and re-run"
        )

    def compact(self, target_file_mb: int = 256) -> int | None:
        """Manifest-aware small-file compaction — Delta's ``OPTIMIZE``
        split, not an in-place rewrite: the LATEST version's row set is
        rewritten into ``ceil(bytes / target)`` files and committed as a
        NEW version (``operation: OPTIMIZE``) whose rows are identical by
        construction. No existing manifest is touched and no existing
        file is deleted, so EVERY prior time-travel version keeps reading
        byte-identical data — compaction is a commit, never a mutation
        (the x14 oracle + tests pin per-version equality across it).

        A streaming ``foreach_batch_txn_append`` sink adds one file set
        per micro-batch; readers of the head pay an open/LIST tax per
        file. After compact, HEAD reads open the compacted files only;
        the historical small files cost storage, not read performance,
        and are reclaimed by the retention pair :meth:`expire_versions`
        + :meth:`vacuum` — the same OPTIMIZE/VACUUM contract Delta
        documents. Returns the new version, or None when the head is
        already at or under the target file count (an empty OPTIMIZE
        commit would push every reader's manifest resolution forward for
        nothing).

        Idempotent under the writer protocol: a second compact on an
        already-compacted head sees n_files <= target and no-ops.

        The OPTIMIZE commit CARRIES FORWARD the newest txn watermark of
        every app_id (Delta retains SetTransaction actions across log
        cleanup for the same reason): :meth:`last_txn_version` scans
        manifests newest-first, so after the advertised retention
        sequence (compact → expire_versions → vacuum) the watermarks
        would otherwise vanish with the expired manifests and an
        at-least-once producer's replayed batch would land TWICE.
        """
        v = self.latest_version()
        if v is None:
            return None
        m = self._read_manifest(v)
        files = m["files"]
        total = sum(self._file_sizes(files))
        n_out = max(1, -(-total // (target_file_mb * 1024 * 1024)))
        if len(files) <= n_out:
            return None
        # newest watermark per app_id across ALL manifests (oldest-first
        # iteration, so later versions overwrite earlier ones)
        watermarks: dict[str, int] = {}
        for pv in self._versions():
            # an unreadable manifest above the expire floor raises:
            # skipping it would drop its app's watermark from the
            # OPTIMIZE commit, and a replayed batch could land twice
            m = self._read_manifest_tolerant(pv, "compact")
            if m is None:
                continue
            for app, tv in (m.get("txn") or {}).items():
                watermarks[str(app)] = max(int(tv), watermarks.get(str(app), int(tv)))
        head = self.read(v)
        # expected_prev pins the OPTIMIZE commit to the snapshot it read:
        # a concurrent append landing after v makes the commit FAIL loudly
        # (re-run compact) — a blind OCC retry would publish the v-rows
        # snapshot as the new head and silently drop that append (r12
        # review; Delta conflicts OPTIMIZE the same way)
        return self.write(
            head.repartition(int(n_out)),
            mode="overwrite",
            operation="OPTIMIZE",
            txn=watermarks or None,
            expected_prev=v,
        )

    def expire_versions(self, keep_last: int, min_age_seconds: float = 600.0) -> int:
        """Retention: retire the manifests of all but the newest
        ``keep_last`` versions (:meth:`VersionLog.retire` — tombstoned,
        watermark-marked), so :meth:`vacuum` can reclaim the data files
        only they referenced (post-compaction history storage — Delta's
        log-retention half of OPTIMIZE/VACUUM). Time travel to expired
        versions becomes a LOUD FileNotFoundError, never a partial read.
        Returns the number of versions expired.

        The head checkpoint ADVANCES to the newest surviving version
        before any manifest is retired (r13): retention works from the
        bottom and later coalesces retired names away, so a checkpoint
        left pointing into that range would send head reads to a stale
        or missing version. The advance is a correctness PREcondition: if
        it does not land, the hint is dropped (LIST fallback is always
        correct); if even the drop fails, expiry REFUSES.

        ``min_age_seconds`` gates the half-retired repair pass — the same
        no-maintenance-op-is-mid-flight contract as :meth:`vacuum`'s
        parameter of the same name. Pass 0 only when no commit can be
        mid-flight. A watermark marker that cannot land raises
        ``RuntimeError`` describing the (safe) state left behind."""
        if keep_last < 1:
            raise ValueError(f"keep_last must be >= 1, got {keep_last}")
        versions = self._versions()
        victims = versions[:-keep_last]
        if victims:
            self.log.write_hint(versions[-1])
            if self.log.read_hint() != versions[-1]:
                self.log.drop_hint()
                if self.log.read_hint() is not None:
                    raise RuntimeError(
                        f"expire_versions at {self.path!r}: could not advance "
                        "or remove the head checkpoint — refusing to delete "
                        "manifests a stale checkpoint may point into"
                    )
        if not self.log.retire(victims, min_age_seconds):
            raise RuntimeError(
                f"expire_versions at {self.path!r}: {self.log.unmarked(victims[-1])}"
            )
        return len(victims)

    def _file_sizes(self, rel_files: list[str]) -> list[int]:
        """On-disk sizes of table-relative files (compact's sizing facts),
        resolved in ONE get_file_info call — per-file stat round trips are
        the object-store tax."""
        infos = self.fs.get_file_info([f"{self.base}/{f}" for f in rel_files])
        return [i.size for i in infos]

    def last_txn_version(self, app_id: str) -> int | None:
        """Highest writer-transaction id committed for ``app_id`` (scanning
        manifests newest-first), or None — Delta's txnAppId/txnVersion
        lookup. A manifest a concurrent expire_versions deletes mid-scan
        is skipped (r14): the result is exactly what a scan started after
        that expiry would return — retention semantics, not a race
        (the advertised sequence compact → expire → vacuum carries
        watermarks forward before any manifest is dropped)."""
        for v in reversed(self._versions()):
            m = self._read_manifest_tolerant(v, "last_txn_version")
            if m is None:
                continue  # concurrently expired — watermarks carried forward
            txn = m.get("txn") or {}
            if app_id in txn:
                return int(txn[app_id])
        return None

    def write_txn(
        self,
        df: DataFrame,
        app_id: str,
        txn_version: int,
        mode: str = "append",
        max_commit_attempts: int = 20,
    ) -> bool:
        """Idempotent write keyed by (``app_id``, ``txn_version``) — the
        Delta txnAppId/txnVersion protocol. Returns False without writing
        when ``txn_version`` (or a later one) is already committed for
        ``app_id``, so an at-least-once producer that replays a batch
        after a crash lands it exactly once.

        Exactly-once holds under MULTI-writer races too (r12): the cheap
        pre-check above short-circuits the common replay, and the commit
        loop re-validates the watermark against the freshly re-read log
        before EVERY attempt — two producers racing the same
        (app_id, txn_version) both pass the pre-check, one wins the
        version-collision race, and the loser's re-read sees the landed
        watermark and returns False (its staged files are vacuum-
        reclaimable orphans)."""
        last = self.last_txn_version(app_id)
        if last is not None and txn_version <= last:
            return False
        self._precheck_append_schema(df, mode)
        new_files = self._write_batch(df, "batch")
        v = self._commit_files(
            new_files, df.schema.json(), mode, {app_id: txn_version}, None,
            (app_id, txn_version), max_commit_attempts,
        )
        return v is not None

    # -- read path -----------------------------------------------------------

    def read(self, version: int | None = None) -> DataFrame:
        """Snapshot read of ``version`` (default: latest) — time travel.

        ONE multi-path parquet scan of the manifest's files, pinned to the
        manifest schema and column order: the reader widens a narrower
        numeric column to the recorded type and reads a column a file
        lacks as NULL — no schema inference, no footer reads first. A
        file that cannot be read as the recorded type fails the scan
        loudly, never NULL-filled or coerced. Plan size is O(1) in the
        file count (VERDICT r11); tests pin the single-scan plan shape.
        """
        v = self.latest_version() if version is None else version
        # a single exists-probe, not a full _versions() LIST — the head
        # read is the hot path the checkpoint exists for (r13)
        if v is None or not self.log.exists(v):
            raise FileNotFoundError(f"no committed version {version!r} at {self.path}")
        # the documented reader contract of _replace_manifest ("a
        # concurrent read of THIS version fails loudly and retries"),
        # made real (r17): a manifest read moments before an erase_keys
        # repoint lists pre-erase files the erase deletes last, so the
        # scan analysis throws PATH_NOT_FOUND. Re-resolving the manifest
        # picks up the repointed list; after bounded retries the state is
        # genuinely corrupt (or retention swept the version mid-read) and
        # the loud RuntimeError is the documented re-run signal.
        last: Exception | None = None
        for delay in (0.0, 0.05, 0.15, 0.45):
            if delay:
                time.sleep(delay)
            try:
                return self._read_version(v)
            except Exception as exc:  # noqa: BLE001 — classified below
                if not _is_missing_path_error(exc):
                    raise
                last = exc
        raise RuntimeError(
            f"read at {self.path!r}: version {v} references data file(s) "
            "deleted mid-read — a concurrent erase_keys repoint or "
            "retention sweep raced this read; re-run"
        ) from last

    def _read_version(self, v: int) -> DataFrame:
        m = self._read_manifest(v)
        paths = ["/".join([self.path.rstrip("/"), f]) for f in m["files"]]
        schema = T.StructType.fromJson(json.loads(m["schema"]))
        if not paths:
            from etl_hiscox_spark.smalldf import local_rows_df

            return local_rows_df(self.spark, [], schema)
        return self.spark.read.schema(schema).parquet(*paths)

    def history(self) -> list[dict]:
        """Commit log, oldest first (Delta DESCRIBE HISTORY shape). A
        manifest a concurrent expire deletes mid-listing is omitted —
        the same answer a listing started a moment later would give. A
        manifest that is unreadable but NOT provably expired (an
        in-flight erase_keys repoint, ADVICE r14) raises after bounded
        retries instead of silently shrinking history."""
        out = []
        for v in self._versions():
            m = self._read_manifest_tolerant(v, "history")
            if m is not None:
                out.append(m)
        return out

    def version_as_of(self, timestamp: float) -> int:
        """Newest version whose commit landed at or before ``timestamp``
        (unix seconds) — Delta's ``timestampAsOf`` resolution, the audit
        question "what did the table say at 3pm?". Loud when the
        timestamp predates every SURVIVING commit: after retention the
        honest answer is "expired", never silently the oldest remaining
        version (Delta errors the same way)."""
        best = None
        for v in self._versions():
            # expired mid-scan (None) cannot be resolvable history; an
            # unreadable manifest ABOVE the expire watermark raises (r15,
            # ADVICE r14: silently skipping a mid-repoint version made
            # timestampAsOf quietly resolve to the PREVIOUS version)
            m = self._read_manifest_tolerant(v, "version_as_of")
            if m is None:
                continue
            if m["committed_at"] <= timestamp:
                best = v
        if best is None:
            raise FileNotFoundError(
                f"no committed version at or before timestamp {timestamp!r} "
                f"at {self.path} — older history may have been expired"
            )
        return best

    def read_as_of(self, timestamp: float) -> DataFrame:
        """Snapshot read at a wall-clock instant (``timestampAsOf``)."""
        return self.read(self.version_as_of(timestamp))

    def vacuum(self, min_age_seconds: float = 600.0) -> int:
        """Delete data files no longer referenced by ANY version's manifest.
        Returns the number removed. This reclaims both crash orphans
        (files written before a manifest commit that never landed) and —
        after :meth:`expire_versions` drops old manifests — the files only
        those expired versions referenced: the second half of the
        OPTIMIZE/VACUUM retention contract :meth:`compact` documents
        (compact → expire_versions → vacuum).

        ``min_age_seconds`` is the retention window multi-writer OCC
        requires (r12 review): a CONCURRENT writer's staged-but-not-yet-
        committed files are indistinguishable from crash orphans, and
        deleting them would let its subsequent commit publish a manifest
        pointing at removed files — a corrupted version. Files younger
        than the window are kept (Delta's VACUUM retention rule; pass 0
        only when no writer can be in flight)."""
        live: set[str] = set()
        for v in self._versions():
            # A listed manifest can vanish mid-call two ways (r14 stress
            # class): concurrently EXPIRED, or mid-erase_keys-REPLACE (the
            # brief no-file window on rename-refusing stores). The r14
            # discrimination re-LISTed — unsound, because during the
            # REPLACE window the manifest is absent from a fresh LIST too
            # (ADVICE r14), so a repointing version's files could be
            # dropped from `live` and wrongly reclaimed.
            # _read_manifest_tolerant discriminates on the expire
            # watermark instead: None = provably expired (skip — expiry
            # is prefix-only and cumulative manifests keep everything the
            # table still serves referenced); unreadable above the
            # watermark = refuse loudly after backoff.
            m = self._read_manifest_tolerant(v, "vacuum")
            if m is None:
                continue
            live.update(m["files"])
        removed = 0
        cutoff = time.time() - min_age_seconds
        # ONE recursive LIST under data/ (object-store LISTs are
        # paginated-but-cheap; per-dir round trips are not), age from
        # FileInfo.mtime, plain DELETEs. Empty batch dirs are left behind —
        # on an object store they do not exist, on a local disk an empty
        # dir is harmless debris.
        data_root = f"{self.base}/data"
        infos = self.fs.get_file_info(
            pafs.FileSelector(data_root, recursive=True, allow_not_found=True)
        )
        for info in infos:
            if info.type != pafs.FileType.File or not info.path.endswith(".parquet"):
                continue
            rel = f"data/{info.path[len(data_root):].lstrip('/')}"
            mtime = info.mtime.timestamp() if info.mtime else 0.0
            if rel not in live and mtime <= cutoff:
                try:
                    self.fs.delete_file(info.path)
                except OSError:
                    continue  # the racing vacuum reclaimed it first
                removed += 1
        return removed

    def erase_keys(self, key_col: str, keys: "list | DataFrame") -> int:
        """Right-to-be-forgotten across ALL versions: rewrite every data
        file containing the subject's rows and repoint every manifest that
        references it, so the erased keys are unreadable at every
        time-travel version — not just the latest (erasing only the head
        while history stays readable is a compliance hole, Delta's
        REORG/VACUUM problem). Returns the number of files rewritten.

        ``keys`` is a bounded Python list OR a 1-column DataFrame (r12,
        VERDICT r11 "what's wrong" #2): the frame form never materializes
        the key set on the driver — hit detection is a broadcast
        left-semi join and each file rewrite a broadcast left-anti join,
        so a bulk purge of millions of keys neither bloats the plan with
        an IN-literal nor the driver with a collect. Both forms are
        NULL-safe: a NULL key in the data is an anonymous row and is
        never erased (IN/join equality never matches NULL).

        Version numbering and all other rows are preserved. Work is
        proportional to the files that actually CONTAIN the subject
        (found with one input_file_name scan — the same file pruning a
        Delta deletion vector build does); each hit file is rewritten
        filtered, manifests update via atomic tmp+replace, and the old
        files are deleted last — a crash mid-way leaves both old and new
        files present and every manifest readable.
        """
        from urllib.parse import unquote, urlparse

        import pyspark.sql.functions as F

        from etl_hiscox_spark.sources.listing import footer_schema

        versions = self._versions()
        # tolerant reads throughout (r15): a version a concurrent
        # expire_versions drops mid-erase no longer needs erasure — its
        # manifest is gone and vacuum reclaims its files; an unreadable
        # manifest that is NOT provably expired raises instead of letting
        # the erase silently miss subject rows in that version's files
        manifests = {
            v: m
            for v in versions
            if (m := self._read_manifest_tolerant(v, "erase_keys")) is not None
        }
        versions = sorted(manifests)
        all_files = sorted({f for m in manifests.values() for f in m["files"]})
        keys_is_frame = isinstance(keys, DataFrame)
        if not all_files or (not keys_is_frame and not keys):
            return 0
        if keys_is_frame and len(keys.columns) != 1:
            raise ValueError(
                f"keys frame must have exactly 1 column, got {keys.columns}"
            )
        # the WIDEST committed type of key_col across ALL versions (the
        # :func:`_wider` fold) is the cast target: an overwrite may have
        # dropped or narrowed the column at the head while old versions
        # still hold subject rows, and a bigint key cast to int would
        # wrap/NULL and silently miss them (r12 second review).
        # Cross-family conflicts across an OVERWRITE boundary raise.
        key_type = None
        for pv in versions:
            sch = T.StructType.fromJson(json.loads(manifests[pv]["schema"]))
            if key_col not in sch.fieldNames():
                continue
            t = sch[key_col].dataType
            wider = t if key_type is None else _wider(key_type, t)
            if wider is None:
                raise ValueError(
                    f"erase_keys: column {key_col!r} has incompatible types "
                    f"across versions ({key_type.simpleString()} vs "
                    f"{t.simpleString()}) — erase per-version explicitly"
                )
            key_type = wider
        if key_type is None:
            raise ValueError(
                f"erase_keys: column {key_col!r} appears in no committed "
                f"version's schema at {self.path!r}"
            )
        kdf = (
            keys.select(F.col(keys.columns[0]).cast(key_type).alias(key_col)).distinct()
            if keys_is_frame
            else None
        )

        def file_hits(scan: DataFrame) -> set[str]:
            if kdf is not None:
                # input_file_name() must be projected BELOW the join:
                # Spark's PreReadCheck rejects the expression over a plan
                # with more than one file source, and a keys frame read
                # from parquet is itself a file source (s19 oracle, r12)
                hit = scan.select(
                    F.col(key_col), F.input_file_name().alias("__file")
                ).join(F.broadcast(kdf), key_col, "left_semi")
            else:
                hit = scan.filter(F.col(key_col).isin(keys)).select(
                    F.input_file_name().alias("__file")
                )
            # input_file_name() is a URL-encoded URI; the table-relative
            # path is ALWAYS its last three components (data/<uuid-batch>/
            # <part-file> — the one layout _write_batch defines), which
            # sidesteps base-path arithmetic entirely: pyarrow's S3 base
            # is 'bucket/prefix' while urlparse().path is '/prefix/...'
            # (bucket in the netloc), so a relpath against the base
            # produced '../..' garbage that matched no manifest entry —
            # a silent GDPR erase no-op on S3-class roots (r13 review)
            return {
                "/".join(unquote(urlparse(r[0]).path).split("/")[-3:])
                for r in hit.select("__file").distinct().collect()
            }

        # ONE scan pinned to key_col as key_type: a file without the
        # column reads NULL there, so it can never hit
        paths = ["/".join([self.path.rstrip("/"), f]) for f in all_files]
        hit_paths = file_hits(
            self.spark.read.schema(T.StructType([T.StructField(key_col, key_type)]))
            .parquet(*paths)
        )
        if not hit_paths:
            return 0

        def _rewrite_one(rel: str) -> list[str]:
            # NULL-safe keep: ~isin(...) is NULL (dropped) for NULL keys —
            # the subject filter must never erase anonymous rows (same rule
            # as writers.erase_keys' left_anti join; left_anti keeps NULL
            # keys natively on the frame path). Each file is read with its
            # OWN schema (never the merged one) so a rewrite of an old
            # narrow file cannot silently widen it. That schema is read
            # from the file's footer on the driver, which saves Spark's
            # one-task inference job per hit file.
            file_path = "/".join([self.path.rstrip("/"), rel])
            file_df = self.spark.read.schema(footer_schema(file_path)).parquet(file_path)
            if keys_is_frame:
                kept = file_df.join(F.broadcast(kdf), key_col, "left_anti")
            else:
                kept = file_df.filter(
                    F.col(key_col).isNull() | ~F.col(key_col).isin(keys)
                )
            return self._write_batch(kept, "erase")

        # hit-file rewrites target DISJOINT fresh uuid batch dirs —
        # independent read→filter→write chains, overlapped (r18, guide
        # §2.6: x17 profiled 9 sequential ~0.27 s rewrite jobs back to
        # back); manifests repoint only after EVERY rewrite landed, so
        # crash behaviour is unchanged (old + new files both present,
        # every manifest readable)
        from etl_hiscox_spark.concurrency import run_overlapped

        rels = sorted(hit_paths)
        replacement: dict[str, list[str]] = dict(
            zip(rels, run_overlapped([lambda r=r: _rewrite_one(r) for r in rels]))
        )
        # Repoint-until-clean, then delete (r17): the single repoint pass
        # over the scan-time version list left a window where an append
        # that read its parent manifest BEFORE this erase repointed it
        # committed AFTER the scan — publishing a manifest that references
        # replaced files this erase is about to delete, i.e. a permanently
        # unreadable version. Each pass re-LISTS versions and repoints any
        # manifest (tolerant read: expired-mid-pass versions no longer
        # need erasure) still referencing a replaced file; the loop exits
        # only after a FULL pass finds none. The append side's post-commit
        # _sync_inherited_files covers the mirror interleaving (its last
        # manifest write either lands before a pass here — which then
        # sees and repoints it — or after it re-read the repointed
        # parent, in which case it published the clean list).
        for _attempt in range(10):
            dirty = False
            for v in self._versions():
                m = self._read_manifest_tolerant(v, "erase_keys")
                if m is None or not any(f in replacement for f in m["files"]):
                    continue
                m["files"] = [
                    nf for f in m["files"] for nf in replacement.get(f, [f])
                ]
                m["erased_at"] = time.time()
                self._replace_manifest(v, m)
                dirty = True
            if not dirty:
                break
        else:
            raise RuntimeError(
                f"erase_keys at {self.path!r}: manifests kept re-referencing "
                "replaced files after 10 repoint passes — a pathologically "
                "hot append stream; quiesce writers and re-run"
            )
        for rel in replacement:
            self._delete_data_file(rel)
        return len(replacement)

    def _replace_manifest(self, version: int, manifest: dict) -> None:
        """IN-PLACE manifest update (erase repointing only — commits go
        through the create-if-absent :meth:`_commit`) via
        :meth:`VersionLog.replace`. Atomic where the store replaces in one
        step (local rename, S3 single PUT); on HDFS — whose rename refuses
        an existing destination — a brief absence window during which a
        concurrent time-travel read of THIS version fails loudly and
        retries (erase is a stop-the-world compliance op, the same reader
        contract as Delta's REORG)."""
        self.log.replace(version, json.dumps(manifest).encode("utf-8"))

    def _delete_data_file(self, rel: str) -> None:
        try:
            self.fs.delete_file(f"{self.base}/{rel}")
        except OSError:
            pass
