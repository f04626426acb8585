"""r13 txn-log upgrades (VERDICT r12 items 2+5): the manifest log's IO
runs through pyarrow.fs for ANY URI root — a ``file://`` table exercises
the exact listing/read/size/delete code an object-store deployment runs,
with the os.* manifest branch trap-pinned off — and head resolution is
O(commits-since-checkpoint) via the ``_last_checkpoint`` hint instead of
a full manifest-dir LIST."""

from __future__ import annotations

import json
import os
import threading

import pytest


@pytest.fixture
def forbid_os_manifest_io(monkeypatch):
    """Any os-level manifest/data IO helper touching a path that contains
    the marker raises — a URI-rooted TxnTable must route every list /
    stat / delete / replace through pyarrow.fs. The create-if-absent
    commit itself (commitio: open+os.link on a local filesystem) is the
    documented fast path and stays allowed, as do Spark's own JVM-side
    writes (not Python calls)."""
    marker = "TXNFS"

    def guard(mod, name):
        real = getattr(mod, name)

        def wrapped(p, *a, **kw):
            if marker in str(p) or any(marker in str(x) for x in a):
                raise AssertionError(f"os.{name} touched a URI txn root: {p} {a}")
            return real(p, *a, **kw)

        monkeypatch.setattr(mod, name, wrapped)

    # os.path.isdir stays unguarded: os.makedirs(exist_ok=True) inside the
    # ALLOWED local commit fast path consults it; the os manifest branch
    # is still fully trapped via listdir (listing), getsize/getmtime
    # (compact/vacuum), and remove/replace/rename (retention/erase).
    for name in ("listdir", "remove", "replace", "rename"):
        guard(os, name)
    for name in ("getsize", "getmtime"):
        guard(os.path, name)

    # os.path.exists is guarded only for MANIFEST/checkpoint files — the
    # _manifest_exists head-read probe is the hot path that must not
    # silently regress to the os branch (r13 review); bare-dir exists
    # calls from os.makedirs inside the allowed commit path stay legal.
    real_exists = os.path.exists

    def guarded_exists(p):
        s = str(p)
        if marker in s and (s.endswith(".json") or s.endswith("_last_checkpoint")):
            raise AssertionError(f"os.path.exists probed a URI txn manifest: {p}")
        return real_exists(p)

    monkeypatch.setattr(os.path, "exists", guarded_exists)
    return marker


def _events(spark, lo, hi):
    return spark.createDataFrame(
        [(i, f"type{i % 3}", float(i)) for i in range(lo, hi)],
        "event_id long, event_type string, value double",
    )


def test_file_uri_root_full_lifecycle_without_os_branch(
    spark, tmp_path, forbid_os_manifest_io
):
    from etl_hiscox_spark.sources.txnlog import TxnTable

    root = "file://" + str(tmp_path / f"{forbid_os_manifest_io}_tbl")
    t = TxnTable(spark, root, checkpoint_interval=2)
    v0 = t.write(_events(spark, 0, 20))
    v1 = t.write(_events(spark, 20, 30))
    assert (v0, v1) == (0, 1)
    assert t.read().count() == 30
    assert t.read(0).count() == 20  # time travel

    # exactly-once: a replayed (app_id, txn_version) lands once
    assert t.write_txn(_events(spark, 30, 35), "app", 1) is True
    assert t.write_txn(_events(spark, 30, 35), "app", 1) is False
    assert t.read().count() == 35

    # OPTIMIZE on the URI root (sizes via pyarrow get_file_info)
    head_before = t.latest_version()
    new_v = t.compact(target_file_mb=256)
    assert new_v == head_before + 1
    assert t.read().count() == 35
    assert t.read(head_before).count() == 35

    # GDPR erase across every version through the fs branch
    erased = t.erase_keys("event_id", spark.createDataFrame([(5,)], "event_id long"))
    assert erased >= 1
    for v in range(t.latest_version() + 1):
        assert 5 not in [r["event_id"] for r in t.read(v).select("event_id").collect()]

    # retention pair: expire + vacuum reclaim through pyarrow deletes
    n_files_before = sum(
        1
        for rel in {
            f
            for v in t._versions()
            for f in t._read_manifest(v)["files"]
        }
    )
    assert t.expire_versions(keep_last=1) >= 1
    assert t.vacuum(min_age_seconds=0) >= 1
    assert t.read().count() == 34  # head unaffected by retention
    with pytest.raises(FileNotFoundError):
        t.read(0)  # expired: loud, never partial
    assert n_files_before > 0


def test_file_uri_root_two_writer_occ(spark, tmp_path, forbid_os_manifest_io):
    from etl_hiscox_spark.sources.txnlog import TxnTable

    root = "file://" + str(tmp_path / f"{forbid_os_manifest_io}_occ")
    TxnTable(spark, root).write(_events(spark, 0, 5))
    errors: list[BaseException] = []
    barrier = threading.Barrier(2)

    def run(w: int) -> None:
        try:
            t = TxnTable(spark, root)
            barrier.wait()
            for i in range(3):
                t.write(_events(spark, 100 * w + 10 * i, 100 * w + 10 * i + 5))
        except BaseException as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [threading.Thread(target=run, args=(w,)) for w in (1, 2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors
    t = TxnTable(spark, root)
    assert t._versions() == list(range(7))  # dense under the race
    assert t.read().count() == 5 + 6 * 5


def test_scheme_less_root_on_remote_default_fs_rejected(spark, tmp_path, monkeypatch):
    from etl_hiscox_spark.sources import listing, txnlog

    monkeypatch.setattr(listing, "_meta_is_local", lambda s, p: False)
    with pytest.raises(ValueError, match="fully-qualified URI"):
        txnlog.TxnTable(spark, str(tmp_path / "tbl"))


def test_checkpoint_caps_head_resolution_to_tail(spark, tmp_path):
    """VERDICT r12 item 5: a 500-commit table resolves its head from the
    checkpoint with O(commits-since-checkpoint) exists-probes — no full
    manifest-dir LIST on the head-read hot path."""
    from etl_hiscox_spark.sources.txnlog import TxnTable

    t = TxnTable(spark, str(tmp_path / "tbl"), checkpoint_interval=10)
    v0 = t.write(_events(spark, 0, 5))
    assert v0 == 0
    schema = t._read_manifest(0)["schema"]
    files = t._read_manifest(0)["files"]
    for v in range(1, 501):  # synthetic commits: the LOG layer under test
        t._commit(v, {"version": v, "mode": "append", "files": files, "schema": schema})
    assert t.log.read_hint() == 500
    assert t.latest_version() == 500
    assert t.last_head_resolution["mode"] == "checkpoint"
    # head == checkpoint -> exactly one probe (v501 missing); bounded by
    # interval+1 in general
    assert t.last_head_resolution["entries"] <= 11
    assert t.read(500).count() == 5

    # commits SINCE the checkpoint are found by forward probing
    t._commit(501, {"version": 501, "mode": "append", "files": files, "schema": schema})
    assert t.latest_version() == 501
    assert t.last_head_resolution == {"mode": "checkpoint", "entries": 2}


def test_expire_advances_checkpoint_past_deleted_range(spark, tmp_path):
    """Expiry deletes manifests from the bottom; the checkpoint must
    advance FIRST or the forward probe would hit the gap and under-report
    the head (deleted v11 when the checkpoint said v10)."""
    from etl_hiscox_spark.sources.txnlog import TxnTable

    t = TxnTable(spark, str(tmp_path / "tbl"), checkpoint_interval=10)
    t.write(_events(spark, 0, 5))
    schema = t._read_manifest(0)["schema"]
    files = t._read_manifest(0)["files"]
    for v in range(1, 13):
        t._commit(v, {"version": v, "mode": "append", "files": files, "schema": schema})
    assert t.log.read_hint() == 10
    assert t.expire_versions(keep_last=1) == 12  # v0..v11 gone
    assert t.log.read_hint() == 12
    assert t.latest_version() == 12
    assert t.last_head_resolution["mode"] == "checkpoint"
    with pytest.raises(FileNotFoundError):
        t.read(3)

    # a young table with no checkpoint yet gets one from expiry too
    t2 = TxnTable(spark, str(tmp_path / "tbl2"), checkpoint_interval=1000)
    t2.write(_events(spark, 0, 5))
    t2.write(_events(spark, 5, 8))
    assert t2.log.read_hint() is None
    t2.expire_versions(keep_last=1)
    assert t2.log.read_hint() == 1
    assert t2.latest_version() == 1


def test_torn_checkpoint_falls_back_to_list(spark, tmp_path):
    from etl_hiscox_spark.sources.txnlog import TxnTable
    from etl_hiscox_spark.sources.versionlog import _CKPT_NAME

    t = TxnTable(spark, str(tmp_path / "tbl"), checkpoint_interval=1)
    t.write(_events(spark, 0, 5))
    t.write(_events(spark, 5, 8))
    ckpt = os.path.join(t.log.dir, _CKPT_NAME)
    assert json.load(open(ckpt))["version"] == 1
    with open(ckpt, "w") as f:
        f.write('{"vers')  # torn write survivor
    assert t.latest_version() == 1
    assert t.last_head_resolution["mode"] == "list"


def test_fs_replace_handles_rename_refusing_store(spark, tmp_path):
    """r13 review: checkpoint refresh and erase repointing REPLACE an
    existing file; HDFS rename refuses an existing destination, so
    replace_put must fall back to delete+move there — before the fix
    every checkpoint refresh after the first silently failed on HDFS
    and GDPR erase crashed at its first manifest repoint."""
    from pyarrow import fs as pafs

    from etl_hiscox_spark.sources import commitio

    class RefusingFs:  # HDFS rename semantics over the local fs
        def __init__(self):
            self._fs = pafs.LocalFileSystem()

        def open_output_stream(self, p):
            return self._fs.open_output_stream(p)

        def get_file_info(self, p):
            return self._fs.get_file_info(p)

        def delete_file(self, p):
            self._fs.delete_file(p)

        def move(self, src, dst):
            if self._fs.get_file_info(dst).type != pafs.FileType.NotFound:
                raise OSError(f"rename destination exists: {dst}")
            self._fs.move(src, dst)

    fake = RefusingFs()
    final = str(tmp_path / "f.json")
    commitio.replace_put(fake, final, b"one")
    commitio.replace_put(fake, final, b"two")  # replace
    assert open(final, "rb").read() == b"two"
    assert sorted(os.listdir(tmp_path)) == ["f.json"]  # no tmp debris


def test_expire_refuses_when_checkpoint_cannot_advance(spark, tmp_path, monkeypatch):
    """r13 review: expire's checkpoint advance is a correctness
    precondition, not a hint — if the advance fails, the hint is dropped
    (LIST fallback, always correct); if even the drop fails, expire must
    REFUSE rather than delete manifests a stale hint points into."""
    from etl_hiscox_spark.sources.txnlog import TxnTable

    t = TxnTable(spark, str(tmp_path / "tbl"), checkpoint_interval=10)
    t.write(_events(spark, 0, 5))
    schema = t._read_manifest(0)["schema"]
    files = t._read_manifest(0)["files"]
    for v in range(1, 13):
        t._commit(v, {"version": v, "mode": "append", "files": files, "schema": schema})
    assert t.log.read_hint() == 10

    # advance fails -> hint dropped -> expiry proceeds, head via LIST
    monkeypatch.setattr(t.log, "write_hint", lambda v: None)
    assert t.expire_versions(keep_last=1) == 12
    assert t.log.read_hint() is None
    assert t.latest_version() == 12
    assert t.last_head_resolution["mode"] == "list"

    # advance AND drop fail -> refuse loudly, nothing deleted
    t2 = TxnTable(spark, str(tmp_path / "tbl2"), checkpoint_interval=5)
    t2.write(_events(spark, 0, 5))
    for v in range(1, 7):
        t2._commit(v, {"version": v, "mode": "append", "files": files, "schema": schema})
    assert t2.log.read_hint() == 5
    monkeypatch.setattr(t2.log, "write_hint", lambda v: None)
    monkeypatch.setattr(t2.log, "drop_hint", lambda: None)
    with pytest.raises(RuntimeError, match="refusing to delete"):
        t2.expire_versions(keep_last=1)
    assert t2._versions() == list(range(7))  # nothing expired


def test_append_schema_precheck_rejects_before_staging(spark, tmp_path):
    """r13 review: an incompatible append must fail BEFORE the batch is
    written — no orphan batch dir per rejected attempt."""
    import pytest as _pytest

    from etl_hiscox_spark.sources.txnlog import TxnTable

    t = TxnTable(spark, str(tmp_path / "tbl"))
    t.write(_events(spark, 0, 5))
    batches_before = sorted(os.listdir(tmp_path / "tbl" / "data"))
    bad = spark.createDataFrame(
        [("x", "t", 1.0)], "event_id string, event_type string, value double"
    )
    with _pytest.raises(ValueError, match="incompatible with the committed schema"):
        t.write(bad)
    assert sorted(os.listdir(tmp_path / "tbl" / "data")) == batches_before


def test_read_as_of_timestamp(spark, tmp_path):
    """Delta's timestampAsOf analog: resolve the newest commit at or
    before the instant; predating every surviving commit is loud."""
    from etl_hiscox_spark.sources.txnlog import TxnTable

    t = TxnTable(spark, str(tmp_path / "tbl"))
    t.write(_events(spark, 0, 10))
    t0 = t._read_manifest(0)["committed_at"]
    t.write(_events(spark, 10, 15))
    t1 = t._read_manifest(1)["committed_at"]
    assert t.version_as_of(t0) == 0
    assert t.version_as_of((t0 + t1) / 2) == 0
    assert t.version_as_of(t1 + 1) == 1
    assert t.read_as_of(t0).count() == 10
    assert t.read_as_of(t1).count() == 15
    with pytest.raises(FileNotFoundError, match="at or before"):
        t.version_as_of(t0 - 1)
    # after expiry, a pre-retention instant is "expired", never silently
    # served the oldest surviving version
    t.expire_versions(keep_last=1)
    with pytest.raises(FileNotFoundError):
        t.version_as_of(t0)


# -- r15: expire-watermark discrimination (ADVICE r14 medium + low) ----------
#
# The r14 code told "concurrently expired" from "mid-erase_keys-REPLACE"
# by re-LISTing the log — unsound, because during the REPLACE's no-file
# window on a rename-refusing store the manifest is absent from a fresh
# LIST too, so vacuum could drop a repointing version's files from its
# live set and reclaim them. r15 discriminates on the _expire_watermark
# file expire_versions advances past every victim BEFORE deleting: a
# missing manifest at or below it was provably expired; above it, vacuum
# and the history readers retry with backoff then refuse LOUDLY.


def _hostile_manifest_read(monkeypatch, on_first_read_of_version, action):
    """Interpose TxnTable._read_manifest: run ``action()`` once, right
    before the first read of ``on_first_read_of_version``, then call
    through — the deterministic stand-in for 'the manifest vanished
    between vacuum's LIST and its read'."""
    from etl_hiscox_spark.sources.txnlog import TxnTable

    real = TxnTable._read_manifest
    state = {"fired": False}

    def wrapped(self, version):
        if version == on_first_read_of_version and not state["fired"]:
            state["fired"] = True
            action()
        return real(self, version)

    monkeypatch.setattr(TxnTable, "_read_manifest", wrapped)
    return state


def test_vacuum_refuses_on_unexpired_missing_manifest(
    spark, tmp_path, monkeypatch, caplog
):
    """A manifest that vanishes mid-vacuum WITHOUT the expire watermark
    covering it (the in-flight erase repoint window) must refuse loudly —
    the r14 re-LIST would have misclassified it as expired and dropped
    its files from the live set (ADVICE r14 medium)."""
    import logging

    from etl_hiscox_spark.sources.txnlog import TxnTable

    root = str(tmp_path / "wm_refuse")
    t = TxnTable(spark, root)
    for lo in (0, 10, 20):
        t.write(_events(spark, lo, lo + 10), mode="append")
    man = os.path.join(root, "_txn_log", "v1.json")
    _hostile_manifest_read(monkeypatch, 1, lambda: os.remove(man))
    with caplog.at_level(logging.WARNING, logger="etl_hiscox_spark.txnlog"):
        with pytest.raises(RuntimeError, match="expire watermark"):
            t.vacuum(min_age_seconds=600.0)
    assert any("refusing" in r.message for r in caplog.records)


def test_vacuum_skips_manifest_proven_expired_by_watermark(
    spark, tmp_path, monkeypatch
):
    """A manifest deleted by a RACING expire_versions mid-vacuum is at or
    below the watermark the expire advanced first — vacuum classifies it
    as expired, skips it, and completes (the absorb the r14 stress
    demanded, now on a sound signal)."""
    from etl_hiscox_spark.sources.txnlog import TxnTable

    root = str(tmp_path / "wm_skip")
    t = TxnTable(spark, root)
    t.write(_events(spark, 0, 10), mode="append")
    t.write(_events(spark, 10, 20), mode="append")
    t.write(_events(spark, 20, 30), mode="overwrite")  # v0/v1 files now head-dead

    _hostile_manifest_read(
        monkeypatch, 1, lambda: TxnTable(spark, root).expire_versions(keep_last=1)
    )
    removed = t.vacuum(min_age_seconds=0.0)
    assert removed >= 1  # v0/v1-only files reclaimed, no refusal
    assert t.log.read_floor() == 1
    assert t.read().count() == 10  # head intact


def test_vacuum_backoff_rides_out_transient_absence(spark, tmp_path, monkeypatch):
    """VERDICT r14 'what's wrong' #2: one fixed 50 ms sleep refused
    spuriously on a slow in-flight REPLACE. The bounded backoff reads
    again — a manifest that reappears within the retry budget is used,
    no refusal."""
    from etl_hiscox_spark.sources.txnlog import TxnTable

    root = str(tmp_path / "wm_backoff")
    t = TxnTable(spark, root)
    t.write(_events(spark, 0, 10), mode="append")
    t.write(_events(spark, 10, 20), mode="append")

    real = TxnTable._read_manifest
    state = {"failures": 0}

    def flaky(self, version):
        if version == 0 and state["failures"] < 2:
            state["failures"] += 1
            raise FileNotFoundError("slow REPLACE in flight")
        return real(self, version)

    monkeypatch.setattr(TxnTable, "_read_manifest", flaky)
    assert t.vacuum(min_age_seconds=600.0) == 0  # completes, no refusal
    assert state["failures"] == 2  # the backoff actually retried


def test_version_as_of_raises_on_unexpired_missing_manifest(
    spark, tmp_path, monkeypatch
):
    """ADVICE r14 (low): a timestampAsOf that hits a mid-repoint manifest
    must fail loudly, not quietly resolve to the PREVIOUS version."""
    from etl_hiscox_spark.sources.txnlog import TxnTable

    root = str(tmp_path / "wm_asof")
    t = TxnTable(spark, root)
    t.write(_events(spark, 0, 10), mode="append")
    t.write(_events(spark, 10, 20), mode="append")
    ts1 = t._read_manifest(1)["committed_at"]
    man = os.path.join(root, "_txn_log", "v1.json")
    _hostile_manifest_read(monkeypatch, 1, lambda: os.remove(man))
    with pytest.raises(RuntimeError, match="version_as_of"):
        t.version_as_of(ts1 + 1)


def test_readers_skip_watermark_covered_versions(spark, tmp_path, monkeypatch):
    """With the watermark covering the vanished version, the readers give
    exactly the post-expiry answer: version_as_of resolves to the newest
    SURVIVING version at the instant, history omits the expired one."""
    from etl_hiscox_spark.sources.txnlog import TxnTable

    root = str(tmp_path / "wm_readers")
    t = TxnTable(spark, root)
    t.write(_events(spark, 0, 10), mode="append")
    t.write(_events(spark, 10, 20), mode="append")
    t.write(_events(spark, 20, 30), mode="append")
    ts1 = t._read_manifest(1)["committed_at"]
    t.log.mark(1)
    man = os.path.join(root, "_txn_log", "v1.json")
    _hostile_manifest_read(monkeypatch, 1, lambda: os.remove(man))
    assert t.version_as_of(ts1 + 0.0001) == 0  # v1 expired -> newest survivor
    assert [m["version"] for m in t.history()] == [0, 2]


def test_expire_watermark_ordering_atomic_store(spark, tmp_path, monkeypatch):
    """r17 zero-width ordering on atomic-replace stores (local os.replace
    here): expire TOMBSTONES victims BEFORE committing the watermark
    marker, so a fresh commit's post-link check can never read its own
    bytes at a watermark-covered name. A marker failure after the
    tombstones is LOUD but leaves a safe state: the tombstoned name
    keeps refusing commits naturally, readers classify its content
    (ManifestRetired) without the watermark, and a later expire whose
    watermark covers the version coalesces the pair."""
    from etl_hiscox_spark.sources.txnlog import TxnTable
    from etl_hiscox_spark.sources.versionlog import VersionLog

    root = str(tmp_path / "wm_mark")
    t = TxnTable(spark, root)
    for lo in (0, 10, 20):
        t.write(_events(spark, lo, lo + 10), mode="append")
    assert t.log.read_floor() == -1 and not t.log.marked_ever()
    assert t.expire_versions(keep_last=2) == 1
    assert t.log.read_floor() == 0 and t.log.marked_ever()
    # markers are create-if-absent: a stale smaller mark never regresses
    t.log.mark(0)
    assert t.log.read_floor() == 0

    t2 = TxnTable(spark, root)
    monkeypatch.setattr(
        VersionLog,
        "mark",
        lambda self, v: (_ for _ in ()).throw(OSError("marker store down")),
    )
    with pytest.raises(RuntimeError, match="tombstoned names keep refusing"):
        t2.expire_versions(keep_last=1)
    monkeypatch.undo()
    # the victim WAS tombstoned (tombstone-first): excluded from the live
    # listing, content is a tombstone, name refuses a commit naturally
    assert t2._versions() == [2]
    with pytest.raises(FileNotFoundError, match="expired by retention"):
        t2._read_manifest(1)
    assert t2.log.read_floor() == 0  # marker never landed
    # history and head are consistent in the tombstoned-but-unmarked state
    assert [m["version"] for m in t2.history()] == [2]
    assert t2.latest_version() == 2
    # a later expire (new victim) repairs the watermark past the residue,
    # and the NEXT one coalesces the orphaned pair
    t2.write(_events(spark, 30, 40), mode="append")
    assert t2.expire_versions(keep_last=1) == 1  # victims v2 -> watermark 2
    assert t2.log.read_floor() == 2
    t2.write(_events(spark, 40, 50), mode="append")
    assert t2.expire_versions(keep_last=1) == 1  # floor_before=2 covers v1
    log_names = set(os.listdir(os.path.join(root, "_txn_log")))
    assert "v1.json" not in log_names and "v1.retired" not in log_names
    names = [n for n in log_names if n.startswith("_expired_v")]
    assert names == ["_expired_v3"]


def test_expire_marks_watermark_first_on_rename_refusing_store(
    spark, tmp_path, monkeypatch
):
    """On rename-refusing stores the r15/r16 marker-first order stands:
    the pre-link watermark refusal is what keeps stragglers out of
    replace_put's absence window there, so if the marker cannot land,
    expire refuses and retires NOTHING."""
    from etl_hiscox_spark.sources.txnlog import TxnTable
    from etl_hiscox_spark.sources.versionlog import VersionLog

    root = str(tmp_path / "wm_mark_hdfs")
    t = TxnTable(spark, root)
    for lo in (0, 10, 20):
        t.write(_events(spark, lo, lo + 10), mode="append")
    monkeypatch.setattr(VersionLog, "retire_is_atomic", lambda self: False)
    monkeypatch.setattr(
        VersionLog,
        "mark",
        lambda self, v: (_ for _ in ()).throw(OSError("marker store down")),
    )
    with pytest.raises(RuntimeError, match="refusing to retire"):
        t.expire_versions(keep_last=1)
    assert t._versions() == [0, 1, 2]  # nothing retired under the refusal
    assert t._read_manifest(0)["version"] == 0  # content untouched
    monkeypatch.undo()
    assert t.expire_versions(keep_last=1) == 2  # re-run completes
    assert t.log.read_floor() == 1


def test_commit_refuses_to_reuse_an_expired_version_number(spark, tmp_path):
    """r15 version-number reuse guard, r16 mechanics (ADVICE r15 low):
    expire_versions TOMBSTONES retired manifest names instead of
    deleting them, so a commit from a stale head resolve is refused
    BEFORE anything lands (the pre-link watermark guard; the name
    itself also still exists and would refuse the create-if-absent) —
    no unwind, and a fresh commit can never be misclassified as a
    reuse. The stale bytes must never appear at the retired name."""
    import json as _json
    import time as _time

    from etl_hiscox_spark.sources.txnlog import TxnTable

    root = str(tmp_path / "reuse")
    t = TxnTable(spark, root)
    for lo in (0, 10, 20, 30):
        t.write(_events(spark, lo, lo + 10), mode="append")
    assert t.expire_versions(keep_last=2) == 2  # v0, v1 retired

    stale = {"version": 1, "mode": "append", "files": ["data/zz/p.parquet"],
             "schema": "{}", "committed_at": _time.time(), "n_added": 1}
    with pytest.raises(FileExistsError, match="already retired"):
        t._commit(1, stale)
    # the retired name holds a TOMBSTONE, never the stale manifest
    with open(os.path.join(root, "_txn_log", "v1.json")) as f:
        assert _json.load(f).get("tombstone") is True
    assert os.path.exists(os.path.join(root, "_txn_log", "v1.retired"))
    assert t._versions() == [2, 3]  # log exactly as before the attempt
    with pytest.raises(FileNotFoundError, match="expired"):
        t.read(1)  # time travel to the retired version stays LOUD
    # and the public OCC write path still lands fresh commits normally
    assert t.write(_events(spark, 40, 45), mode="append") == 4

    # one retention cycle later the tombstone pair is COALESCED (the
    # watermark keeps refusing the freed name via the pre-link guard)
    assert t.expire_versions(keep_last=2) == 1  # v2 retired
    log = os.listdir(os.path.join(root, "_txn_log"))
    assert "v0.json" not in log and "v0.retired" not in log
    assert "v1.json" not in log and "v1.retired" not in log
    assert "v2.json" in log and "v2.retired" in log  # newest trim retained
    with pytest.raises(FileExistsError, match="already retired"):
        t._commit(0, stale)  # freed name still refused (watermark guard)


def test_fresh_commit_swept_by_concurrent_retention_is_not_a_conflict(
    spark, tmp_path, monkeypatch
):
    """ADVICE r15 (low), the false-positive half of the reuse guard: a
    FRESH commit whose version a concurrent retention run sweeps between
    the winning create-if-absent and the post-link watermark read was
    unwound by the r15 classifier and surfaced as an OCC conflict — and
    the caller's retry re-appended the same batch (duplicate rows for
    non-txn appends). r16 classifies by CONTENT: the name now holds a
    tombstone (retention replaced it after the commit landed live), so
    the commit reports SUCCESS and nothing is re-appended. Injected by
    running newer commits + expire_versions inside the commit window,
    right after the link lands."""
    from etl_hiscox_spark.sources import commitio
    from etl_hiscox_spark.sources.txnlog import TxnTable

    root = str(tmp_path / "sweep")
    t = TxnTable(spark, root)
    for lo in (0, 10, 20, 30):
        t.write(_events(spark, lo, lo + 10), mode="append")
    assert t.latest_version() == 3

    real_commit = commitio.commit_if_absent
    state = {"fired": False}

    def commit_then_sweep(sp, uri, data):
        real_commit(sp, uri, data)
        if uri.endswith("v4.json") and not state["fired"]:
            state["fired"] = True  # nested writes recurse through here
            other = TxnTable(spark, root)
            other.write(_events(spark, 50, 55), mode="append")   # v5
            other.write(_events(spark, 60, 65), mode="append")   # v6
            assert other.expire_versions(keep_last=2) == 5       # sweeps v4
            assert other.log.read_floor() == 4

    monkeypatch.setattr(commitio, "commit_if_absent", commit_then_sweep)
    # the r15 classifier would raise FileExistsError here and the OCC
    # loop would re-commit the same staged batch at v7 — duplicates
    assert t.write(_events(spark, 40, 45), mode="append") == 4
    monkeypatch.undo()

    # exactly-once outcome: the swept commit's rows appear ONCE in the
    # head (v5/v6 carried its cumulative file list forward)
    head = t.read()
    assert head.count() == 40 + 5 + 5 + 5
    assert head.filter("event_id >= 40 AND event_id < 45").count() == 5
    assert t.latest_version() == 6


def test_stale_reuse_that_slips_the_prelink_guard_is_unwound(
    spark, tmp_path, monkeypatch
):
    """The post-link my-bytes branch (r16, txn mirror of the genlog
    test): pre-link watermark read fails (guard skipped as 'unknown'),
    the target name was coalesced-and-freed, the stale commit wins the
    create-if-absent — the classifier reads the name, sees its own
    bytes, unwinds, and raises the standard conflict."""
    import time as _time

    from etl_hiscox_spark.sources.txnlog import TxnTable
    from etl_hiscox_spark.sources.versionlog import VersionLog

    root = str(tmp_path / "slip")
    t = TxnTable(spark, root)
    for lo in (0, 10, 20, 30, 40):
        t.write(_events(spark, lo, lo + 10), mode="append")
    # two retention cycles: expire#1 tombstones 0..2 (watermark 2),
    # expire#2 tombstones 3 (watermark 3) and COALESCES 0..2
    assert t.expire_versions(keep_last=2) == 3
    t.write(_events(spark, 50, 55), mode="append")  # v5
    assert t.expire_versions(keep_last=2) == 1
    assert "v1.json" not in os.listdir(os.path.join(root, "_txn_log"))

    real_wm = VersionLog.read_floor
    calls = {"n": 0}

    def flaky_wm(self):
        calls["n"] += 1
        if calls["n"] == 1:  # the pre-link read only
            raise OSError("watermark store hiccup")
        return real_wm(self)

    monkeypatch.setattr(VersionLog, "read_floor", flaky_wm)
    stale = {"version": 1, "mode": "append", "files": ["data/zz/p.parquet"],
             "schema": "{}", "committed_at": _time.time(), "n_added": 1}
    with pytest.raises(FileExistsError, match="already retired"):
        t._commit(1, stale)
    monkeypatch.undo()
    assert "v1.json" not in os.listdir(os.path.join(root, "_txn_log"))
    assert t._versions() == [4, 5]


def test_fresh_commit_inside_retire_to_marker_gap_is_success(
    spark, tmp_path, monkeypatch
):
    """The injected race the r16 verdict asked to close (txn mirror of
    the genlog gap test): a fresh commit whose post-link check lands
    INSIDE the expire — after its own name was tombstoned, before the
    watermark marker lands (expire crashes there). Old order would have
    shown watermark>=V + my-bytes and falsely unwound; r17's
    tombstone-first order shows watermark-not-advanced or tombstone
    content — success either way, rows exactly once."""
    from etl_hiscox_spark.sources import commitio
    from etl_hiscox_spark.sources.txnlog import TxnTable
    from etl_hiscox_spark.sources.versionlog import VersionLog

    root = str(tmp_path / "gapsweep")
    t = TxnTable(spark, root)
    for lo in (0, 10, 20, 30):
        t.write(_events(spark, lo, lo + 10), mode="append")

    real_commit = commitio.commit_if_absent
    state = {"fired": False}

    def commit_then_crashing_sweep(sp, uri, data):
        real_commit(sp, uri, data)
        if uri.endswith("v4.json") and not state["fired"]:
            state["fired"] = True
            other = TxnTable(spark, root)
            other.write(_events(spark, 50, 55), mode="append")   # v5
            other.write(_events(spark, 60, 65), mode="append")   # v6
            monkeypatch.setattr(
                VersionLog, "mark",
                lambda self, v: (_ for _ in ()).throw(OSError("marker down")),
            )
            with pytest.raises(RuntimeError, match="tombstoned names"):
                other.expire_versions(keep_last=2)  # sweeps v4, marker dies
            monkeypatch.setattr(VersionLog, "mark", real_mark)
            assert not other.log.marked_ever()  # crash state: no marker

    real_mark = VersionLog.mark
    monkeypatch.setattr(commitio, "commit_if_absent", commit_then_crashing_sweep)
    assert t.write(_events(spark, 40, 45), mode="append") == 4
    monkeypatch.undo()

    # exactly-once outcome in the tombstoned-but-unmarked state
    head = t.read()
    assert head.count() == 40 + 5 + 5 + 5
    assert head.filter("event_id >= 40 AND event_id < 45").count() == 5
    assert t.latest_version() == 6
    assert t._versions() == [5, 6]
    # readers classify the unmarked tombstones by content: history and
    # time travel stay clean without the watermark
    assert [m["version"] for m in t.history()] == [5, 6]
    with pytest.raises(FileNotFoundError, match="expired by retention"):
        t._read_manifest(4)


def test_expire_finishes_half_retired_manifests(spark, tmp_path, monkeypatch):
    """ADVICE r16 (low), txn twin: a _retire_manifest that wrote the
    sidecar and lost the content replace leaves a name excluded from
    _versions yet still serving the retired manifest on a direct read,
    skipped by coalescing forever. The repair pass in expire_versions
    re-runs the replace, age-gated by the manifest's committed_at."""
    from etl_hiscox_spark.sources import commitio
    from etl_hiscox_spark.sources.txnlog import TxnTable

    root = str(tmp_path / "halfman")
    t = TxnTable(spark, root)
    for lo in (0, 10, 20, 30):
        t.write(_events(spark, lo, lo + 10), mode="append")

    # inject: v0's content replace fails
    real_replace = commitio.replace_put

    def flaky_replace(fs, path, data):
        if path.endswith("v0.json"):
            raise OSError("content replace lost")
        return real_replace(fs, path, data)

    monkeypatch.setattr(commitio, "replace_put", flaky_replace)
    assert t.expire_versions(keep_last=2) == 2  # v0 half-retired, v1 full
    monkeypatch.undo()

    log_dir = os.path.join(root, "_txn_log")
    with open(os.path.join(log_dir, "v0.json")) as f:
        assert not json.load(f).get("tombstone")  # live content remains
    assert os.path.exists(os.path.join(log_dir, "v0.retired"))
    assert t._versions() == [2, 3]
    assert t._read_manifest(0)["version"] == 0  # still serves the manifest

    # age-gated: the default 600s gate leaves the young record alone
    t.write(_events(spark, 40, 50), mode="append")
    assert t.expire_versions(keep_last=2) == 1
    with open(os.path.join(log_dir, "v0.json")) as f:
        assert not json.load(f).get("tombstone")

    # past the gate the repair pass finishes the retire — and since the
    # watermark already covered v0, the SAME run's coalesce then deletes
    # the completed pair (repair runs before coalescing by design)
    t.write(_events(spark, 50, 60), mode="append")
    t.expire_versions(keep_last=2, min_age_seconds=0.0)
    with pytest.raises(FileNotFoundError):
        t._read_manifest(0)
    log_names = set(os.listdir(log_dir))
    assert "v0.json" not in log_names and "v0.retired" not in log_names


def test_erase_recheck_repoints_append_committed_after_scan(
    spark, tmp_path, monkeypatch
):
    """Append-vs-erase repoint race, erase half (r17): an append that
    commits AFTER erase_keys' version scan but BEFORE its deletes used to
    publish a manifest referencing replaced files — permanently
    unreadable once the originals were deleted. The repoint-until-clean
    recheck must pick it up."""
    from etl_hiscox_spark.sources.txnlog import TxnTable

    root = str(tmp_path / "tbl")
    t = TxnTable(spark, root)
    t.write(_events(spark, 0, 20))  # v0: contains subjects 3 and 7

    racer = TxnTable(spark, root)
    staged = racer._write_batch(_events(spark, 100, 110), "batch")
    injected = {}
    real_replace = TxnTable._replace_manifest

    def inject_then_replace(self, version, manifest):
        if not injected:
            injected["v"] = 1
            old = json.loads(
                open(os.path.join(racer.log.dir, "v0.json")).read()
            )
            # the racing append read v0 BEFORE the repoint: stale list
            racer._commit(
                1,
                {
                    "version": 1,
                    "mode": "append",
                    "files": old["files"] + staged,
                    "schema": old["schema"],
                    "committed_at": 0.0,
                    "n_added": len(staged),
                },
            )
        return real_replace(self, version, manifest)

    monkeypatch.setattr(TxnTable, "_replace_manifest", inject_then_replace)
    n = t.erase_keys("event_id", [3, 7])
    monkeypatch.setattr(TxnTable, "_replace_manifest", real_replace)
    assert n >= 1 and injected
    # the racing v1 must be readable (no deleted-file references) and
    # hold the erased v0 rows plus its own batch
    got = t.read(1)
    assert got.count() == 18 + 10
    ids = {r["event_id"] for r in got.select("event_id").collect()}
    assert 3 not in ids and 7 not in ids
    assert t.read(0).count() == 18


def test_append_syncs_inherited_files_after_racing_erase(
    spark, tmp_path, monkeypatch
):
    """Append-vs-erase repoint race, append half (r17): an append whose
    parent-manifest read predates an erase repoint, and whose commit
    lands after the erase's last recheck, must repair its own inherited
    file list post-link (the stress-test PATH_NOT_FOUND shape)."""
    from etl_hiscox_spark.sources import commitio
    from etl_hiscox_spark.sources.txnlog import TxnTable

    root = str(tmp_path / "tbl")
    t = TxnTable(spark, root)
    t.write(_events(spark, 0, 20))  # v0: contains subjects 3 and 7

    eraser = TxnTable(spark, root)
    fired = {}
    real_commit_if_absent = commitio.commit_if_absent

    def erase_then_link(spark_, uri, raw):
        if not fired:
            fired["v"] = 1
            # the erase runs fully (scan, rewrite, repoint, recheck,
            # delete) between the append's parent read and its link
            eraser.erase_keys("event_id", [3, 7])
        return real_commit_if_absent(spark_, uri, raw)

    monkeypatch.setattr(commitio, "commit_if_absent", erase_then_link)
    v1 = t.write(_events(spark, 100, 110), mode="append")
    monkeypatch.setattr(commitio, "commit_if_absent", real_commit_if_absent)
    assert v1 == 1 and fired
    got = t.read(v1)
    assert got.count() == 18 + 10
    ids = {r["event_id"] for r in got.select("event_id").collect()}
    assert 3 not in ids and 7 not in ids


def test_lost_log_replace_leaves_no_tmp_on_scheme_less_root(
    spark, tmp_path, monkeypatch
):
    """A checkpoint, tombstone or erase-repoint replace that fails on a
    scheme-less local root leaves no staged ``*.tmp`` in ``_txn_log`` and
    keeps the record it failed to replace. The failure is injected both
    at ``os.replace`` and at the resolved filesystem's ``move`` (a local
    rename that errors: an atomic-replace store class, so no
    delete-and-retry fallback may touch the destination)."""
    from etl_hiscox_spark.sources import listing
    from etl_hiscox_spark.sources.txnlog import TxnTable

    root = str(tmp_path / "tbl")
    t = TxnTable(spark, root)
    for lo in (0, 10, 20):
        t.write(_events(spark, lo, lo + 10), mode="append")
    log_dir = os.path.join(root, "_txn_log")

    real_replace = os.replace

    def lost_replace(src, dst, *a, **kw):
        if "_txn_log" in str(dst):
            raise OSError("replace lost")
        return real_replace(src, dst, *a, **kw)

    class MoveLosingFs:
        def __init__(self, fs):
            self._fs = fs

        def move(self, src, dst):
            raise OSError("replace lost")

        def __getattr__(self, name):
            return getattr(self._fs, name)

    MoveLosingFs.__name__ = "LocalFileSystem"
    real_resolve = listing._resolve_fs

    def losing_resolve(uri):
        filesystem, path = real_resolve(uri)
        return MoveLosingFs(filesystem), path

    monkeypatch.setattr(os, "replace", lost_replace)
    monkeypatch.setattr(listing, "_resolve_fs", losing_resolve)
    t = TxnTable(spark, root)
    t.expire_versions(keep_last=1)  # checkpoint advance + tombstones lost
    with pytest.raises(OSError, match="replace lost"):
        t._replace_manifest(0, dict(t._read_manifest(0), erased_at=0.0))
    monkeypatch.undo()

    assert [n for n in os.listdir(log_dir) if n.endswith(".tmp")] == []
    assert "erased_at" not in TxnTable(spark, root)._read_manifest(0)
    assert TxnTable(spark, root).latest_version() == 2
