"""Generation-pointer index maintenance (sources/genlog, r12 — VERDICT
r11 item 1): the full compact/erase/rebuild lifecycle of BOTH index
layouts must run on a ``file://``-prefixed root with pointer flips only —
no os.rename / shutil on any data directory — and a crash between staging
and the pointer commit must leave the old generation live."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture
def forbid_data_dir_renames(monkeypatch):
    """Any os.rename / os.replace / shutil.move touching a path that
    contains the marker raises — the generational ops must commit via
    pointer flips only. Deletes (shutil.rmtree / fs delete) stay allowed:
    they are object-store-safe operations (vacuum uses them). os.link is
    the pointer commit primitive and is allowed; Spark's own JVM-side
    writer renames are not Python calls and target task-temp dirs."""
    import shutil

    marker = "GENIDX"

    def guard(name, real):
        def wrapped(src, *a, **kw):
            if marker in str(src) or any(marker in str(x) for x in a):
                raise AssertionError(f"{name} touched a generational index path: {src} {a}")
            return real(src, *a, **kw)

        return wrapped

    monkeypatch.setattr(os, "rename", guard("os.rename", os.rename))
    monkeypatch.setattr(os, "replace", guard("os.replace", os.replace))
    monkeypatch.setattr(shutil, "move", guard("shutil.move", shutil.move))
    return marker


def _docs(spark, n=40):
    rows = [(i, f"shared filler text body number {i} common tokens run") for i in range(n)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _flat_copy(spark, build, dest):
    """A NON-GENERATIONAL index tree at ``dest``, for the rejection tests:
    one index tree straight at the root, with no pointer log. It is one
    segment's contents, so ``build(root)`` writes a generational index at
    a fresh sibling root and its single live segment is copied to
    ``dest``. Returns the generational source root."""
    import shutil

    from etl_hiscox_spark.sources.genlog import live_index_paths

    src = os.path.join(os.path.dirname(dest), "gen-source-" + os.path.basename(dest))
    build(src)
    [segment] = live_index_paths(spark, src)
    shutil.copytree(segment, dest)
    return src


def _probe_pairs(spark, path, docs):
    from etl_hiscox_spark.operators.dedup import probe_minhash_index

    probe = spark.createDataFrame(
        [(1000, "shared filler text body number 3 common tokens run")],
        "doc_id long, text string",
    )
    out = probe_minhash_index(probe, "text", "doc_id", path)
    return sorted(r["dup_of"] for r in out.collect())


def test_minhash_generational_full_lifecycle_no_renames(
    spark, tmp_path, forbid_data_dir_renames
):
    from etl_hiscox_spark.operators.dedup import (
        _read_index_meta,
        compact_minhash_index,
        erase_from_minhash_index,
        minhash_fragmentation_stats,
        rebuild_minhash_index,
        write_minhash_index,
    )
    from etl_hiscox_spark.sources.genlog import (
        list_generations,
        live_index_paths,
        vacuum_generations,
    )

    root = "file://" + str(tmp_path / f"{forbid_data_dir_renames}_mh")
    docs = _docs(spark)
    old = docs.filter(F.col("doc_id") < 20)
    write_minhash_index(old, "text", "doc_id", root)
    [built] = live_index_paths(spark, root)
    assert built != root.rstrip("/")
    base_pairs = _probe_pairs(spark, root, docs)
    assert base_pairs  # doc 3 found through the pointer resolution

    # append commits an OCC DELTA segment (r13): the head becomes
    # two-segment, the probe reads the union, fragmentation stats
    # aggregate across segments
    write_minhash_index(
        docs.filter(F.col("doc_id") >= 20), "text", "doc_id", root, mode="append"
    )
    seg_paths = live_index_paths(spark, root)
    assert len(seg_paths) == 2
    n_files_before = minhash_fragmentation_stats(spark, root).first()["n_files"]

    # compact: merges the segments into ONE new generation, fewer files,
    # identical probe answers
    n_after = compact_minhash_index(spark, root)
    assert live_index_paths(spark, root) not in ([], seg_paths)
    [merged] = live_index_paths(spark, root)
    assert merged not in seg_paths  # pointer flipped
    assert n_after < n_files_before
    assert _probe_pairs(spark, root, docs) == base_pairs

    # erase: doc 3 must stop surfacing
    n_erased = erase_from_minhash_index(
        spark, root, spark.createDataFrame([(3,)], "doc_id long"), "doc_id"
    )
    assert n_erased == 6  # num_bands rows
    assert 3 not in _probe_pairs(spark, root, docs)

    # rebuild: parameter migration through a pointer flip
    migrated = rebuild_minhash_index(
        spark, docs, "text", "doc_id", root, num_hashes=32, num_bands=8
    )
    assert migrated == (32, 8, 3)
    assert _read_index_meta(spark, root) == (32, 8, 3)
    assert 3 in _probe_pairs(spark, root, docs)  # re-indexed from docs

    # history recorded every lifecycle op (the OCC append included);
    # vacuum drops superseded gens
    ops = [g["operation"] for g in list_generations(spark, root)]
    assert ops == ["build", "append", "compact", "erase", "rebuild"]
    local_root = str(tmp_path / f"{forbid_data_dir_renames}_mh")
    gens_on_disk = [d for d in os.listdir(local_root) if d.startswith("gen-")]
    assert len(gens_on_disk) == 5
    assert vacuum_generations(spark, root, keep_last=1) == 4
    assert len([d for d in os.listdir(local_root) if d.startswith("gen-")]) == 1
    assert 3 in _probe_pairs(spark, root, docs)  # live gen untouched


def test_minhash_generational_crash_before_pointer_leaves_old_live(spark, tmp_path):
    """The staged-generation crash window: a complete (or partial) stage
    without a pointer commit is invisible — the old generation answers
    every probe, and vacuum reclaims the debris."""
    from etl_hiscox_spark.operators.dedup import _stage_minhash_index, write_minhash_index
    from etl_hiscox_spark.sources import genlog

    root = "file://" + str(tmp_path / "mh")
    docs = _docs(spark)
    write_minhash_index(docs, "text", "doc_id", root)
    v_before, gen_before = genlog.current_generation(spark, root)
    pairs_before = _probe_pairs(spark, root, docs)

    # simulate a maintenance run that crashed after staging: a complete
    # new index tree exists under the root but no pointer names it
    stage = genlog._join(root, genlog.new_generation_name())
    _stage_minhash_index(docs.filter("doc_id < 5"), "text", "doc_id", stage, 32, 8, 3)
    assert genlog.current_generation(spark, root) == (v_before, gen_before)
    assert _probe_pairs(spark, root, docs) == pairs_before
    # the default retention window protects a possibly-in-flight stage...
    assert genlog.vacuum_generations(spark, root, keep_last=1) == 0
    # ...and an explicit 0-window (no op can be mid-flight) reclaims it
    assert genlog.vacuum_generations(spark, root, keep_last=1, min_age_seconds=0) == 1
    assert _probe_pairs(spark, root, docs) == pairs_before


def test_pointer_commit_collision_is_loud(spark, tmp_path):
    """r12 review: two maintenance ops that resolved the SAME base
    generation must collide on the pointer — the later committer staged
    from data the earlier one superseded (e.g. a compact staged before an
    erase would resurrect erased rows), so it must fail loudly, never
    silently publish. The collision is NATURAL: each op captures its base
    version at resolve time and commits at exactly base+1."""
    from etl_hiscox_spark.operators.dedup import write_minhash_index
    from etl_hiscox_spark.sources import genlog

    root = "file://" + str(tmp_path / "mh")
    write_minhash_index(_docs(spark, 10), "text", "doc_id", root)
    base, _ = genlog.current_generation(spark, root)  # both ops resolve here

    genlog.commit_generation(spark, root, "gen-aaaaaaaaaaaa", "erase", base_version=base)
    with pytest.raises(FileExistsError):
        genlog.commit_generation(
            spark, root, "gen-bbbbbbbbbbbb", "compact", base_version=base
        )
    assert genlog.current_generation(spark, root)[1] == "gen-aaaaaaaaaaaa"


def test_generational_maintenance_race_collides_end_to_end(spark, tmp_path):
    """The operator-level form of the base-version collision: an erase
    commits while a compact is staging from the same base — the compact's
    pointer commit must raise and the ERASED state stays live."""
    from etl_hiscox_spark.operators.dedup import (
        compact_minhash_index,
        erase_from_minhash_index,
        write_minhash_index,
    )
    from etl_hiscox_spark.sources import genlog

    root = "file://" + str(tmp_path / "mh")
    docs = _docs(spark)
    write_minhash_index(docs, "text", "doc_id", root)

    # interleave deterministically: when compact resolves its base, fire
    # the erase BEFORE compact's own commit lands (the scoped hook is
    # disarmed while it runs, so the erase inside resolves for real)
    fired = {"done": False}

    def racing_current(real, spark_, root_):
        out = real(spark_, root_)
        if not fired["done"]:
            fired["done"] = True
            erase_from_minhash_index(
                spark, root, spark.createDataFrame([(3,)], "doc_id long"), "doc_id"
            )
        return out

    with genlog.interpose_head_resolution(racing_current):
        with pytest.raises(FileExistsError):
            compact_minhash_index(spark, root)
    # the erase won; its generation is live and doc 3 stays forgotten
    assert 3 not in _probe_pairs(spark, root, docs)
    ops = [g["operation"] for g in genlog.list_generations(spark, root)]
    assert ops == ["build", "erase"]


def test_generational_build_rejects_flat_debris(spark, tmp_path):
    """r12 review: a build over a root already holding a non-generational
    index tree would strand it as unreclaimable debris (a GDPR retention
    leak) — reject loudly; the index is rebuilt at a fresh root."""
    import numpy as np

    from etl_hiscox_spark.operators.dedup import write_minhash_index
    from etl_hiscox_spark.operators.similarity import random_hyperplanes, write_ivf_index

    docs = _docs(spark)
    flat = str(tmp_path / "mh_flat")
    _flat_copy(spark, lambda p: write_minhash_index(docs, "text", "doc_id", p), flat)
    with pytest.raises(ValueError, match="strand entries already there"):
        write_minhash_index(docs, "text", "doc_id", flat)

    rng = np.random.default_rng(2)
    rows = [(i, [float(x) for x in rng.standard_normal(4)]) for i in range(20)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    ivf_flat = str(tmp_path / "ivf_flat")
    planes = random_hyperplanes(dim=4, n_planes=3, seed=1)
    _flat_copy(
        spark,
        lambda p: write_ivf_index(emb, p, "embedding", "vec_id", centroids=planes),
        ivf_flat,
    )
    with pytest.raises(ValueError, match="strand entries already there"):
        write_ivf_index(
            emb, ivf_flat, "embedding", "vec_id", centroids=planes
        )


def test_ivf_generational_full_lifecycle_no_renames(
    spark, tmp_path, forbid_data_dir_renames
):
    """Quantized IVF on a file:// generational root: build → append →
    compact → erase → rebuild, probes (plain + codes-only) correct at
    every step, zero data-dir renames."""
    from etl_hiscox_spark.operators.similarity import (
        append_to_ivf_index,
        compact_ivf_index,
        cosine_topk,
        erase_from_ivf_index,
        ivf_fragmentation_stats,
        ivf_probe_topk,
        ivf_probe_topk_quantized,
        load_ivf_centroids,
        random_hyperplanes,
        rebuild_ivf_index,
        write_ivf_index,
    )
    from etl_hiscox_spark.sources.genlog import list_generations, live_index_paths

    rng = np.random.default_rng(5)
    rows = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(80)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    root = "file://" + str(tmp_path / f"{forbid_data_dir_renames}_ivf")
    planes = random_hyperplanes(dim=8, n_planes=4, seed=3)
    write_ivf_index(
        emb.filter("vec_id < 40"), root, "embedding", "vec_id",
        centroids=planes, quantize=True,
    )
    append_to_ivf_index(emb.filter("vec_id >= 40"), root, "embedding", "vec_id")
    q = rows[0][1]

    def full_probe_ids():
        got = ivf_probe_topk(spark, root, None, "embedding", "vec_id", q, k=5, n_probe=4)
        return [r["vec_id"] for r in got.collect()]

    def brute_ids(frame):
        return [r["vec_id"] for r in cosine_topk(frame, "embedding", "vec_id", q, k=5).collect()]

    # the append committed an OCC DELTA segment (r13): two-segment head,
    # probes read the union
    seg_paths = live_index_paths(spark, root)
    assert len(seg_paths) == 2
    assert full_probe_ids() == brute_ids(emb)
    # quantized probe reads the live segments' codes
    qtop = ivf_probe_topk_quantized(spark, root, "embedding", "vec_id", q, k=5, n_probe=4)
    assert qtop.count() == 5

    compact_ivf_index(spark, root)
    [merged] = live_index_paths(spark, root)
    assert merged not in seg_paths  # merged to ONE
    assert full_probe_ids() == brute_ids(emb)
    frag = ivf_fragmentation_stats(spark, root)
    assert frag.agg(F.max("n_files")).first()[0] == 1  # defragmented

    erased = erase_from_ivf_index(
        spark, root, emb.filter("vec_id % 10 = 0").select("vec_id"), "vec_id"
    )
    assert erased == 8
    kept = emb.filter("vec_id % 10 != 0")
    assert full_probe_ids() == brute_ids(kept)

    C = rebuild_ivf_index(spark, root, "embedding", "vec_id", max_iter=3)
    assert not np.allclose(C, planes)
    assert np.allclose(load_ivf_centroids(spark, root), C)
    assert full_probe_ids() == brute_ids(kept)
    # the quantized flag survived erase + rebuild: codes-only probe works
    qtop = ivf_probe_topk_quantized(spark, root, "embedding", "vec_id", q, k=5, n_probe=4)
    assert [r["vec_id"] for r in qtop.collect()] == brute_ids(kept)

    ops = [g["operation"] for g in list_generations(spark, root)]
    assert ops == ["build", "append", "compact", "erase", "rebuild"]


def test_resolve_root_rejects_schemeless_on_remote_default_fs(spark, monkeypatch):
    from etl_hiscox_spark.sources import genlog, listing

    monkeypatch.setattr(listing, "_meta_is_local", lambda s, p: False)
    with pytest.raises(ValueError, match="scheme-less"):
        genlog.resolve_root(spark, "/warehouse/idx")
    # and is_generational answers False without touching the filesystem
    assert genlog.is_generational(spark, "/warehouse/idx") is False


def test_gdpr_erase_subject_reaches_generational_indexes(spark, tmp_path):
    """erase_subject residual verification resolves the LIVE generation
    (a raw root read would scan superseded pre-erase generations)."""
    from etl_hiscox_spark.operators.dedup import write_minhash_index
    from etl_hiscox_spark.operators.similarity import random_hyperplanes, write_ivf_index
    from etl_hiscox_spark.plans.gdpr import erase_subject

    rng = np.random.default_rng(9)
    rows = [
        (i, f"document body number {i} with shared filler text",
         [float(x) for x in rng.standard_normal(4)])
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, embedding array<float>")
    ivf = "file://" + str(tmp_path / "ivf")
    write_ivf_index(df, ivf, "embedding", "doc_id",
                    centroids=random_hyperplanes(dim=4, n_planes=3, seed=1))
    mh = "file://" + str(tmp_path / "mh")
    write_minhash_index(df, "text", "doc_id", mh)
    report = erase_subject(
        spark,
        spark.createDataFrame([(7,)], "doc_id long"),
        ivf_indexes=[(ivf, "doc_id")],
        minhash_indexes=[(mh, "doc_id")],
    )
    by_kind = {r["kind"]: r for r in report}
    assert by_kind["ivf_index"]["n_erased"] == 1
    assert by_kind["minhash_index"]["n_erased"] == 6


def test_generational_build_rejects_cross_layout_debris(spark, tmp_path):
    """r12 second review: the debris guard is layout-symmetric — an IVF
    generational build over non-generational MINHASH debris (and vice
    versa) strands GDPR-relevant data just the same, and so would a build
    over any entry it did not write."""
    import numpy as np

    from etl_hiscox_spark.operators.dedup import write_minhash_index
    from etl_hiscox_spark.operators.similarity import random_hyperplanes, write_ivf_index

    docs = _docs(spark, 10)
    rng = np.random.default_rng(4)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(4)]) for i in range(10)],
        "vec_id long, embedding array<float>",
    )
    planes = random_hyperplanes(dim=4, n_planes=3, seed=1)

    mh_root = str(tmp_path / "mh")
    _flat_copy(spark, lambda p: write_minhash_index(docs, "text", "doc_id", p), mh_root)
    with pytest.raises(ValueError, match="strand entries already there"):
        write_ivf_index(emb, mh_root, "embedding", "vec_id",
                        centroids=planes)

    ivf_root = str(tmp_path / "ivf")
    _flat_copy(
        spark,
        lambda p: write_ivf_index(emb, p, "embedding", "vec_id", centroids=planes),
        ivf_root,
    )
    with pytest.raises(ValueError, match="strand entries already there"):
        write_minhash_index(docs, "text", "doc_id", ivf_root)

    # a foreign file is refused by both builds and left untouched
    foreign_root = tmp_path / "foreign"
    foreign_root.mkdir()
    (foreign_root / "notes.txt").write_bytes(b"not an index")
    for build in (
        lambda: write_minhash_index(docs, "text", "doc_id", str(foreign_root)),
        lambda: write_ivf_index(emb, str(foreign_root), "embedding", "vec_id",
                                centroids=planes),
    ):
        with pytest.raises(ValueError, match="strand entries already there"):
            build()
        assert sorted(os.listdir(foreign_root)) == ["notes.txt"]
        assert (foreign_root / "notes.txt").read_bytes() == b"not an index"


def test_build_over_a_crashed_first_build_lands_and_vacuum_reclaims_it(spark, tmp_path):
    """A first build that crashed before its commit leaves a staged
    ``gen-*`` tree and no ``_gen_log``. That is the one thing a build may
    find at a root without a pointer log: the re-run lands, probes answer,
    and vacuum reclaims the orphan."""
    from etl_hiscox_spark.operators.dedup import _stage_minhash_index, write_minhash_index
    from etl_hiscox_spark.sources import genlog

    docs = _docs(spark)
    root = str(tmp_path / "mh")
    orphan = genlog.new_generation_name()
    _stage_minhash_index(docs, "text", "doc_id", os.path.join(root, orphan), 24, 6, 3)
    assert not genlog.is_generational(spark, root)

    write_minhash_index(docs, "text", "doc_id", root)
    _v, live = genlog.current_generation(spark, root)
    assert live != orphan
    fresh = str(tmp_path / "fresh")
    write_minhash_index(docs, "text", "doc_id", fresh)
    pairs = _probe_pairs(spark, fresh, docs)
    assert pairs and _probe_pairs(spark, root, docs) == pairs
    assert genlog.vacuum_generations(spark, root, min_age_seconds=0) == 1
    assert sorted(e for e in os.listdir(root) if e.startswith("gen-")) == [live]
    assert _probe_pairs(spark, root, docs) == pairs


def test_default_build_layout_is_generational(spark, tmp_path):
    """r13 (VERDICT r12 item 3): a bare build — no layout flag — must
    produce the object-store-safe generation-pointer layout for BOTH
    index kinds."""
    from etl_hiscox_spark.operators.dedup import write_minhash_index
    from etl_hiscox_spark.operators.similarity import ivf_probe_topk, write_ivf_index
    from etl_hiscox_spark.sources import genlog

    docs = _docs(spark)
    root = str(tmp_path / "mh_default")
    write_minhash_index(docs, "text", "doc_id", root)
    assert genlog.is_generational(spark, root)
    assert [g["operation"] for g in genlog.list_generations(spark, root)] == ["build"]
    assert _probe_pairs(spark, root, docs)

    rng = np.random.default_rng(7)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    ivf_root = str(tmp_path / "ivf_default")
    write_ivf_index(emb, ivf_root, "embedding", "vec_id", n_clusters=4, max_iter=2)
    assert genlog.is_generational(spark, ivf_root)
    q = [float(x) for x in rng.standard_normal(8)]
    out = ivf_probe_topk(
        spark, ivf_root, None, "embedding", "vec_id", q, k=3, n_probe=4
    )
    assert out.count() == 3


def test_generational_probe_keeps_partition_pruning(spark, tmp_path):
    """Pointer resolution must not cost the IVF layout its core property:
    the probe's cluster IN-filter still lands in PartitionFilters of the
    live generation's scan (the pruning plan gate, generational form)."""
    from etl_hiscox_spark.operators.similarity import write_ivf_index
    from etl_hiscox_spark.sources.genlog import live_index_paths

    rng = np.random.default_rng(21)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(60)],
        "vec_id long, embedding array<float>",
    )
    root = "file://" + str(tmp_path / "ivf")
    write_ivf_index(emb, root, "embedding", "vec_id", n_clusters=4, max_iter=2)
    [live] = live_index_paths(spark, root)
    assert live != root  # resolution actually happened
    pruned = spark.read.parquet(live).filter(F.col("__cluster").isin([0, 1]))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    scan = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert scan, plan
    line = scan[0]
    assert "PartitionFilters" in line and "__cluster" in line.split("PartitionFilters")[-1], line


def test_occ_append_survives_racing_erase(spark, tmp_path):
    """The r13 lost-append fix, end-to-end: an ERASE commits between the
    append's staging and its pointer commit. Pre-r13 (in-place appends)
    the erase's full-rewrite generation would supersede the appended rows
    silently; now the append loses the version race, RETRIES against the
    post-erase head (its delta holds only new rows — still valid), and
    BOTH effects are live."""
    from etl_hiscox_spark.operators.dedup import (
        erase_from_minhash_index,
        probe_minhash_index,
        write_minhash_index,
    )
    from etl_hiscox_spark.sources import genlog

    root = "file://" + str(tmp_path / "mh")
    docs = _docs(spark)
    write_minhash_index(docs.filter("doc_id < 20"), "text", "doc_id", root)

    # fire the erase on the SECOND resolve — append_segment's own head
    # read — so the returned head is stale by the time the commit lands:
    # the append's first pointer commit genuinely COLLIDES
    # (FileExistsError) and the bounded retry must re-resolve and land
    calls = {"n": 0}

    def racing_current(real, spark_, root_):
        out = real(spark_, root_)
        calls["n"] += 1
        if calls["n"] == 2:
            erase_from_minhash_index(
                spark, root, spark.createDataFrame([(3,)], "doc_id long"), "doc_id"
            )
        return out

    with genlog.interpose_head_resolution(racing_current):
        write_minhash_index(
            docs.filter("doc_id >= 20"), "text", "doc_id", root, mode="append"
        )

    ops = [g["operation"] for g in genlog.list_generations(spark, root)]
    assert ops == ["build", "erase", "append"]  # append retried PAST the erase
    probe = spark.createDataFrame(
        [(1000, "shared filler text body number 23 common tokens run")],
        "doc_id long, text string",
    )
    dups = sorted(
        r["dup_of"]
        for r in probe_minhash_index(probe, "text", "doc_id", root).collect()
    )
    assert 23 in dups  # the appended batch survived the race
    assert 3 not in _probe_pairs(spark, root, docs)  # the erase held


def test_occ_append_restages_after_geometry_rebuild(spark, tmp_path):
    """A REBUILD committing mid-append changes the geometry epoch: the
    staged delta's cluster assignments are stale, so re-committing it
    would corrupt probe pruning. The append must detect the epoch change
    (GeometryChanged), RE-STAGE against the new centroids, and land."""
    from etl_hiscox_spark.operators.similarity import (
        append_to_ivf_index,
        cosine_topk,
        ivf_probe_topk,
        load_ivf_centroids,
        random_hyperplanes,
        rebuild_ivf_index,
        write_ivf_index,
    )
    from etl_hiscox_spark.sources import genlog

    rng = np.random.default_rng(11)
    rows = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    root = "file://" + str(tmp_path / "ivf")
    planes = random_hyperplanes(dim=8, n_planes=4, seed=3)
    write_ivf_index(
        emb.filter("vec_id < 40"), root, "embedding", "vec_id",
        centroids=planes,
    )

    fired = {"done": False}

    def racing_current(real, spark_, root_):
        out = real(spark_, root_)
        if not fired["done"]:
            fired["done"] = True
            rebuild_ivf_index(spark, root, "embedding", "vec_id", max_iter=2)
        return out

    with genlog.interpose_head_resolution(racing_current):
        append_to_ivf_index(emb.filter("vec_id >= 40"), root, "embedding", "vec_id")

    ops = [g["operation"] for g in genlog.list_generations(spark, root)]
    assert ops == ["build", "rebuild", "append"]  # re-staged PAST the rebuild
    # the delta was assigned under the RETRAINED centroids: a full probe
    # (n_probe = n_clusters) must return the exact brute-force top-k over
    # build + appended rows — a stale-assignment delta would lose recall
    q = rows[0][1]
    got = ivf_probe_topk(spark, root, None, "embedding", "vec_id", q, k=5, n_probe=4)
    want = cosine_topk(emb, "embedding", "vec_id", q, k=5)
    assert [r["vec_id"] for r in got.collect()] == [r["vec_id"] for r in want.collect()]
    # and the appended rows' assignments match predict() under the new C
    C = load_ivf_centroids(spark, root)
    assert not np.allclose(C, planes)


def test_multi_segment_probe_keeps_partition_pruning(spark, tmp_path):
    """The segment-union read must not cost the IVF layout its core
    property: the cluster IN-filter lands in PartitionFilters of EVERY
    live segment's scan (r13 — the pruning plan gate, multi-segment
    form)."""
    from etl_hiscox_spark.operators.similarity import (
        _read_ivf_segments,
        append_to_ivf_index,
        write_ivf_index,
    )
    from etl_hiscox_spark.sources.genlog import live_index_paths

    rng = np.random.default_rng(23)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(60)],
        "vec_id long, embedding array<float>",
    )
    root = "file://" + str(tmp_path / "ivf")
    write_ivf_index(emb.filter("vec_id < 30"), root, "embedding", "vec_id",
                    n_clusters=4, max_iter=2)
    append_to_ivf_index(emb.filter("vec_id >= 30"), root, "embedding", "vec_id")
    paths = live_index_paths(spark, root)
    assert len(paths) == 2
    pruned = _read_ivf_segments(spark, paths).filter(F.col("__cluster").isin([0, 1]))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert len(scans) == 2, plan
    for line in scans:
        assert "PartitionFilters" in line and "__cluster" in line.split(
            "PartitionFilters"
        )[-1], line


def test_txn_watermark_appends_are_exactly_once(spark, tmp_path):
    """The streaming-ingest ledger: an append tagged (app_id, batch_id)
    at or below its app's committed watermark is a redelivery and commits
    NOTHING — and maintenance commits carry the ledger forward, so a
    replay arriving after a compact is still skipped."""
    from etl_hiscox_spark.operators.dedup import (
        compact_minhash_index,
        write_minhash_index,
    )
    from etl_hiscox_spark.sources import genlog

    root = "file://" + str(tmp_path / "mh")
    docs = _docs(spark)
    write_minhash_index(docs.filter("doc_id < 10"), "text", "doc_id", root)

    def append(lo, hi, batch):
        write_minhash_index(
            docs.filter(f"doc_id >= {lo} and doc_id < {hi}"), "text", "doc_id",
            root, mode="append", txn=("app", batch),
        )

    append(10, 20, 0)
    append(10, 20, 0)  # verbatim redelivery: must be a no-op
    append(20, 30, 1)
    ops = [g["operation"] for g in genlog.list_generations(spark, root)]
    assert ops == ["build", "append", "append"]
    head = genlog.read_pointer(
        genlog.resolve_root(spark, root),
        genlog.current_generation(spark, root)[0],
    )
    assert head["txn_watermarks"] == {"app": 1}

    # compact merges the deltas AND carries the ledger — the late replay
    # of batch 1 after the compact must still be skipped
    compact_minhash_index(spark, root)
    append(20, 30, 1)
    ops = [g["operation"] for g in genlog.list_generations(spark, root)]
    assert ops == ["build", "append", "append", "compact"]
    # a genuinely NEW batch still lands
    append(30, 40, 2)
    assert [g["operation"] for g in genlog.list_generations(spark, root)][-1] == "append"
    assert len(genlog.live_index_paths(spark, root)) == 2  # compacted + delta


def test_txn_tag_on_flat_root_is_rejected(spark, tmp_path):
    """A txn-tagged append on a FLAT root has no ledger to honor — it
    must refuse loudly, never silently degrade to at-least-once."""
    from etl_hiscox_spark.operators.dedup import write_minhash_index
    from etl_hiscox_spark.operators.similarity import (
        append_to_ivf_index,
        random_hyperplanes,
        write_ivf_index,
    )

    docs = _docs(spark)
    flat = str(tmp_path / "mh_flat")
    _flat_copy(spark, lambda p: write_minhash_index(docs, "text", "doc_id", p), flat)
    with pytest.raises(ValueError, match="GENERATIONAL"):
        write_minhash_index(
            docs, "text", "doc_id", flat, mode="append", txn=("app", 0)
        )

    rng = np.random.default_rng(31)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    ivf_flat = str(tmp_path / "ivf_flat")
    _flat_copy(
        spark,
        lambda p: write_ivf_index(
            emb, p, "embedding", "vec_id",
            centroids=random_hyperplanes(dim=8, n_planes=4, seed=3),
        ),
        ivf_flat,
    )
    with pytest.raises(ValueError, match="GENERATIONAL"):
        append_to_ivf_index(emb, ivf_flat, "embedding", "vec_id", txn=("app", 0))


def test_overwrite_build_carries_txn_watermarks(spark, tmp_path):
    """An overwrite-build onto an existing generational head must carry
    the exactly-once ledger like every other commit — a build that reset
    it would let a crash-replayed micro-batch land twice right after an
    index refresh (review)."""
    from etl_hiscox_spark.operators.dedup import write_minhash_index
    from etl_hiscox_spark.sources import genlog

    root = "file://" + str(tmp_path / "mh")
    docs = _docs(spark)
    write_minhash_index(docs.filter("doc_id < 10"), "text", "doc_id", root)
    write_minhash_index(
        docs.filter("doc_id >= 10 and doc_id < 20"), "text", "doc_id", root,
        mode="append", txn=("app", 7),
    )
    # refresh: overwrite-build over the same root
    write_minhash_index(docs.filter("doc_id < 20"), "text", "doc_id", root)
    ops = [g["operation"] for g in genlog.list_generations(spark, root)]
    assert ops == ["build", "append", "build"]
    head = genlog.read_pointer(
        genlog.resolve_root(spark, root),
        genlog.current_generation(spark, root)[0],
    )
    assert head["txn_watermarks"] == {"app": 7}
    # the replayed batch after the refresh is still a no-op
    write_minhash_index(
        docs.filter("doc_id >= 10 and doc_id < 20"), "text", "doc_id", root,
        mode="append", txn=("app", 7),
    )
    assert [g["operation"] for g in genlog.list_generations(spark, root)][-1] == "build"


def test_checkpointed_head_resolution_is_bounded(spark, tmp_path):
    """r13: OCC appends commit one pointer per micro-batch, so the gen
    log grows at stream cadence — head reads must resolve from the
    _last_checkpoint hint in O(commits-since-checkpoint) forward probes
    (txnlog's x16 treatment applied to the genlog), with the full LIST
    only as the torn-hint fallback."""
    from etl_hiscox_spark.operators.dedup import write_minhash_index
    from etl_hiscox_spark.sources import genlog, listing

    root = "file://" + str(tmp_path / "mh")
    write_minhash_index(_docs(spark, 10), "text", "doc_id", root)  # v0
    # stream-cadence pointer commits (head resolution needs no data dirs)
    for i in range(1, 61):
        genlog.commit_generation(
            spark, root, f"gen-{i:012d}", "append", base_version=i - 1
        )
    assert genlog.current_generation(spark, root)[0] == 60
    assert genlog.last_head_resolution["mode"] == "checkpoint"
    assert (
        genlog.last_head_resolution["entries"] <= genlog.CHECKPOINT_INTERVAL + 1
    )
    # torn hint: LIST fallback, same head, never a wrong answer
    fsys, p = listing._resolve_fs(
        genlog._join(genlog.resolve_root(spark, root), "_gen_log", "_last_checkpoint")
    )
    with fsys.open_output_stream(p) as f:
        f.write(b"{torn")
    assert genlog.current_generation(spark, root)[0] == 60
    assert genlog.last_head_resolution["mode"] == "list"
    # the next checkpoint-boundary commit heals the hint
    for i in range(61, 71):
        genlog.commit_generation(
            spark, root, f"gen-{i:012d}", "append", base_version=i - 1
        )
    assert genlog.current_generation(spark, root)[0] == 70
    assert genlog.last_head_resolution["mode"] == "checkpoint"


def test_selective_segment_erase_touches_only_affected_segments(spark, tmp_path):
    """The LSM payoff (r13): an erase whose keys live in ONE segment
    rewrites only that segment — every other segment survives in the new
    pointer BY REFERENCE (same directory, byte-untouched), so erase IO is
    proportional to affected segments, not the index."""
    from etl_hiscox_spark.operators.dedup import (
        erase_from_minhash_index,
        write_minhash_index,
    )
    from etl_hiscox_spark.sources import genlog

    root = "file://" + str(tmp_path / "mh")
    docs = _docs(spark)
    write_minhash_index(docs.filter("doc_id < 20"), "text", "doc_id", root)
    write_minhash_index(
        docs.filter("doc_id >= 20"), "text", "doc_id", root, mode="append"
    )
    before = genlog.pointer_segments(
        genlog.read_pointer(
            genlog.resolve_root(spark, root),
            genlog.current_generation(spark, root)[0],
        )
    )
    assert len(before) == 2
    # doc 23 lives only in the DELTA segment
    n = erase_from_minhash_index(
        spark, root, spark.createDataFrame([(23,)], "doc_id long"), "doc_id"
    )
    assert n == 6  # num_bands rows
    after = genlog.pointer_segments(
        genlog.read_pointer(
            genlog.resolve_root(spark, root),
            genlog.current_generation(spark, root)[0],
        )
    )
    assert len(after) == 2
    assert after[0] == before[0]  # build segment kept BY REFERENCE
    assert after[1] != before[1]  # delta rewritten
    assert 23 not in _probe_pairs(spark, root, docs.filter("doc_id != 23"))
    assert 3 in _probe_pairs(spark, root, docs)  # untouched segment answers


def test_ivf_fully_erased_delta_drops_out_of_the_segment_list(spark, tmp_path):
    """An IVF segment whose rows are ALL erased cannot stay listed (an
    empty partitionBy write has no readable files) — it drops out and the
    remaining segments keep answering probes."""
    from etl_hiscox_spark.operators.similarity import (
        append_to_ivf_index,
        cosine_topk,
        erase_from_ivf_index,
        ivf_probe_topk,
        random_hyperplanes,
        write_ivf_index,
    )
    from etl_hiscox_spark.sources import genlog

    rng = np.random.default_rng(17)
    rows = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    root = "file://" + str(tmp_path / "ivf")
    write_ivf_index(
        emb.filter("vec_id < 30"), root, "embedding", "vec_id",
        centroids=random_hyperplanes(dim=8, n_planes=4, seed=3),
    )
    append_to_ivf_index(emb.filter("vec_id >= 30"), root, "embedding", "vec_id")
    before = genlog.pointer_segments(
        genlog.read_pointer(
            genlog.resolve_root(spark, root),
            genlog.current_generation(spark, root)[0],
        )
    )
    assert len(before) == 2
    n = erase_from_ivf_index(
        spark, root, emb.filter("vec_id >= 30").select("vec_id"), "vec_id"
    )
    assert n == 10
    after = genlog.pointer_segments(
        genlog.read_pointer(
            genlog.resolve_root(spark, root),
            genlog.current_generation(spark, root)[0],
        )
    )
    assert after == [before[0]]  # delta fully erased: dropped; build by reference
    q = rows[0][1]
    got = ivf_probe_topk(spark, root, None, "embedding", "vec_id", q, k=5, n_probe=4)
    want = cosine_topk(emb.filter("vec_id < 30"), "embedding", "vec_id", q, k=5)
    assert [r["vec_id"] for r in got.collect()] == [r["vec_id"] for r in want.collect()]


def test_minhash_fully_erased_delta_drops_out_of_the_segment_list(spark, tmp_path):
    """The LSH side of the one fully-erased rule: a delta segment whose
    docs are ALL erased drops out of the list (no empty slot is kept), the
    build segment stays by reference, and probes answer from it."""
    from etl_hiscox_spark.operators.dedup import (
        erase_from_minhash_index,
        write_minhash_index,
    )
    from etl_hiscox_spark.sources import genlog

    root = "file://" + str(tmp_path / "mh")
    docs = _docs(spark)
    write_minhash_index(docs.filter("doc_id < 20"), "text", "doc_id", root)
    write_minhash_index(
        docs.filter("doc_id >= 20"), "text", "doc_id", root, mode="append"
    )
    before = genlog.live_index_paths(spark, root)
    assert len(before) == 2
    n = erase_from_minhash_index(
        spark, root, docs.filter("doc_id >= 20").select("doc_id"), "doc_id"
    )
    assert n == 20 * 6  # num_bands rows per erased doc
    assert genlog.live_index_paths(spark, root) == [before[0]]
    assert 3 in _probe_pairs(spark, root, docs)  # the build segment answers


def _index_kind_ops(spark, kind):
    """The same lifecycle calls over either index kind: 40 rows keyed
    0..39 (``doc_id`` for LSH, ``vec_id`` for IVF)."""
    if kind == "lsh":
        from etl_hiscox_spark.operators import dedup

        docs = _docs(spark)
        key = "doc_id"
        return dict(
            key=key,
            rows=docs,
            build=lambda root, df: dedup.write_minhash_index(df, "text", key, root),
            append=lambda root, df, txn: dedup.write_minhash_index(
                df, "text", key, root, mode="append", txn=txn
            ),
            erase=lambda root, keys: dedup.erase_from_minhash_index(spark, root, keys, key),
            compact=lambda root: dedup.compact_minhash_index(spark, root),
            rebuild=lambda root, live: dedup.rebuild_minhash_index(
                spark, live, "text", key, root
            ),
        )
    from etl_hiscox_spark.operators import similarity as sim

    rng = np.random.default_rng(31)
    rows = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(40)]
    key = "vec_id"
    return dict(
        key=key,
        rows=spark.createDataFrame(rows, "vec_id long, embedding array<float>"),
        build=lambda root, df: sim.write_ivf_index(
            df, root, "embedding", key,
            centroids=sim.random_hyperplanes(dim=8, n_planes=4, seed=3),
        ),
        append=lambda root, df, txn: sim.append_to_ivf_index(
            df, root, "embedding", key, txn=txn
        ),
        erase=lambda root, keys: sim.erase_from_ivf_index(spark, root, keys, key),
        compact=lambda root: sim.compact_ivf_index(spark, root),
        rebuild=lambda root, live: sim.rebuild_ivf_index(
            spark, root, "embedding", key, max_iter=2
        ),
    )


@pytest.mark.parametrize("kind", ["lsh", "ivf"])
def test_segment_lifecycle_commit_contract(spark, tmp_path, kind):
    """Every maintenance commit of either index kind carries the head's
    exactly-once ledger; erase and compact keep the geometry epoch while
    rebuild mints a new one; a replayed batch after any op is a no-op; and
    a no-hit erase on a single-segment head commits nothing and leaves no
    stage behind."""
    from etl_hiscox_spark.sources import genlog

    ops = _index_kind_ops(spark, kind)
    key, rows = ops["key"], ops["rows"]
    local = str(tmp_path / kind)
    root = "file://" + local

    def head():
        v = genlog.current_generation(spark, root)[0]
        return v, genlog.read_pointer(genlog.resolve_root(spark, root), v)

    def n_gen_dirs():
        return len([d for d in os.listdir(local) if d.startswith("gen-")])

    def keys(*ids):
        return spark.createDataFrame([(i,) for i in ids], f"{key} long")

    batch = rows.filter(f"{key} >= 20")
    ops["build"](root, rows.filter(f"{key} < 20"))
    geometry = head()[1]["geometry_id"]
    ops["append"](root, batch, ("app", 3))
    assert len(head()[1]["segments"]) == 2

    steps = [
        ("erase", lambda: ops["erase"](root, keys(23)), 2),  # multi-segment head
        ("compact", lambda: ops["compact"](root), 1),
        ("erase", lambda: ops["erase"](root, keys(5)), 1),  # single-segment head
        ("rebuild", lambda: ops["rebuild"](root, rows.filter(f"{key} not in (5, 23)")), 1),
    ]
    for operation, run, n_segments in steps:
        run()
        version, rec = head()
        assert rec["operation"] == operation
        assert len(rec["segments"]) == n_segments
        assert rec["txn_watermarks"] == {"app": 3}
        if operation == "rebuild":
            assert rec["geometry_id"] != geometry
        else:
            assert rec["geometry_id"] == geometry
        stages = n_gen_dirs()
        ops["append"](root, batch, ("app", 3))  # replayed batch: no-op
        assert head()[0] == version and n_gen_dirs() == stages

    version, stages = head()[0], n_gen_dirs()
    assert ops["erase"](root, keys(424242)) == 0
    assert head()[0] == version
    assert n_gen_dirs() == stages


def test_rebuilt_root_never_serves_the_old_roots_cached_pointer(spark, tmp_path):
    """The bench/test scratch pattern: DELETE the whole index root and
    rebuild at the same path — versions restart at v0, so the pointer
    cache's (root, version) key now names NEW content. The committer
    updates the cache with the record it just wrote, so the same-process
    rebuild must resolve its own generation, never the deleted one
    (regression: the r13 bench crashed exactly here — run 2 of a
    lifecycle probe read run 1's cached v0 and probed a deleted
    generation)."""
    import shutil

    from etl_hiscox_spark.operators.dedup import write_minhash_index
    from etl_hiscox_spark.sources import genlog

    local = str(tmp_path / "mh")
    root = "file://" + local
    docs = _docs(spark)
    write_minhash_index(docs, "text", "doc_id", root)
    gen1 = genlog.current_generation(spark, root)[1]
    assert _probe_pairs(spark, root, docs)

    shutil.rmtree(local)  # the scratch wipe
    write_minhash_index(docs, "text", "doc_id", root)
    v, gen2 = genlog.current_generation(spark, root)
    assert v == 0 and gen2 != gen1  # the NEW build's generation, not the cache's
    assert _probe_pairs(spark, root, docs)  # probes the rebuilt index


def test_fully_erased_ivf_index_stays_readable_and_recoverable(spark, tmp_path):
    """Erasing EVERY row of an IVF index must leave it readable (probes
    answer empty) and recoverable (appends land, probes then answer from
    the delta) — review: a centroids-only fallback generation crashed
    every subsequent probe/erase on schema inference, unrecoverable
    without a rebuild."""
    from etl_hiscox_spark.operators.similarity import (
        append_to_ivf_index,
        erase_from_ivf_index,
        ivf_probe_topk,
        random_hyperplanes,
        write_ivf_index,
    )

    rng = np.random.default_rng(19)
    rows = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(24)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    root = "file://" + str(tmp_path / "ivf")
    write_ivf_index(
        emb.filter("vec_id < 12"), root, "embedding", "vec_id",
        centroids=random_hyperplanes(dim=8, n_planes=4, seed=3),
    )
    q = rows[0][1]
    n = erase_from_ivf_index(spark, root, emb.select("vec_id"), "vec_id")
    assert n == 12
    # readable: empty answer, not a schema-inference crash
    got = ivf_probe_topk(spark, root, None, "embedding", "vec_id", q, k=5, n_probe=4)
    assert got.count() == 0
    # recoverable: an append lands beside the empty segment and probes answer
    append_to_ivf_index(emb.filter("vec_id >= 12"), root, "embedding", "vec_id")
    got = ivf_probe_topk(spark, root, None, "embedding", "vec_id", q, k=5, n_probe=4)
    assert got.count() == 5
    # and a second erase still works (reads the empty segment fine)
    n2 = erase_from_ivf_index(
        spark, root, emb.filter("vec_id = 12").select("vec_id"), "vec_id"
    )
    assert n2 == 1


def test_vacuum_keeps_by_reference_segments_of_the_live_head(spark, tmp_path):
    """Selective erase carries untouched segments into the new pointer BY
    REFERENCE — vacuum's liveness is the UNION of the kept pointers'
    segment lists, so a build directory committed at v0 must survive a
    keep_last=1 vacuum when the v2 head still references it, while the
    superseded delta directory is reclaimed."""
    from etl_hiscox_spark.operators.dedup import (
        erase_from_minhash_index,
        write_minhash_index,
    )
    from etl_hiscox_spark.sources import genlog

    local = str(tmp_path / "mh")
    root = "file://" + local
    docs = _docs(spark)
    write_minhash_index(docs.filter("doc_id < 20"), "text", "doc_id", root)  # v0
    write_minhash_index(
        docs.filter("doc_id >= 20"), "text", "doc_id", root, mode="append"   # v1
    )
    # doc 23 lives only in the delta -> v2 = [build (by reference), delta']
    erase_from_minhash_index(
        spark, root, spark.createDataFrame([(23,)], "doc_id long"), "doc_id"
    )
    head = genlog.pointer_segments(
        genlog.read_pointer(
            genlog.resolve_root(spark, root),
            genlog.current_generation(spark, root)[0],
        )
    )
    build_gen = head[0]
    removed = genlog.vacuum_generations(spark, root, keep_last=1)
    assert removed == 1  # ONLY the superseded original delta
    on_disk = {d for d in os.listdir(local) if d.startswith("gen-")}
    assert build_gen in on_disk and on_disk == set(head)
    assert 3 in _probe_pairs(spark, root, docs)  # build segment still answers


def test_externally_wiped_and_rebuilt_root_recovers_via_fingerprint(spark, tmp_path):
    """r14 (VERDICT r13 item 4, closing the documented carve-out): a root
    wiped and rebuilt by a DIFFERENT process never runs this process's
    commit-time cache refresh — the cached (root, v0) record names deleted
    content. The stat-verify guard must notice (size/mtime fingerprint
    mismatch), drop the root's cache, and serve the on-disk truth.
    Emulated by building the replacement at a SIBLING path and moving it
    over, so no commit for this root ever runs in-process."""
    import shutil

    from etl_hiscox_spark.operators.dedup import write_minhash_index
    from etl_hiscox_spark.sources import genlog

    local = str(tmp_path / "mh")
    root = "file://" + local
    docs = _docs(spark)
    write_minhash_index(docs.filter("doc_id < 20"), "text", "doc_id", root)
    v, gen1 = genlog.current_generation(spark, root)
    assert v == 0

    # the "other process": a fresh index staged elsewhere, moved over the
    # wiped root (mtime/size of its v0.json differ from the cached one)
    other = str(tmp_path / "other")
    write_minhash_index(docs, "text", "doc_id", "file://" + other)
    shutil.rmtree(local)
    shutil.move(other, local)

    v2, gen2 = genlog.current_generation(spark, root)
    assert v2 == 0 and gen2 != gen1  # the moved-in build, not the cache
    assert _probe_pairs(spark, root, docs)  # and it actually answers


def test_pointer_cache_key_unifies_local_spellings(spark, tmp_path):
    """ADVICE r13: '/x' and 'file:///x' address the same physical root,
    so a rebuild committed under one spelling must be what the other
    spelling resolves. Resolve under the plain spelling, wipe, rebuild
    under the file:// spelling, and resolve under the plain spelling
    again."""
    import shutil

    from etl_hiscox_spark.operators.dedup import write_minhash_index
    from etl_hiscox_spark.sources import genlog

    local = str(tmp_path / "mh")
    docs = _docs(spark)
    write_minhash_index(docs.filter("doc_id < 20"), "text", "doc_id", local)
    gen1 = genlog.current_generation(spark, local)[1]  # resolved under '/x'
    shutil.rmtree(local)
    write_minhash_index(docs, "text", "doc_id", "file://" + local)  # 'file:///x'
    v, gen2 = genlog.current_generation(spark, local)  # resolved under '/x'
    assert v == 0 and gen2 != gen1
    assert _probe_pairs(spark, local, docs)


def test_interpose_head_resolution_is_context_scoped(spark, tmp_path):
    """ADVICE r13: the race probes' interposition must not leak to other
    threads on the same driver. The hook armed in the main thread fires
    for the main thread's resolves only; a worker thread resolving the
    same root concurrently goes through the real resolution."""
    import threading

    from etl_hiscox_spark.operators.dedup import write_minhash_index
    from etl_hiscox_spark.sources import genlog

    root = "file://" + str(tmp_path / "mh")
    docs = _docs(spark)
    write_minhash_index(docs.filter("doc_id < 20"), "text", "doc_id", root)

    seen = {"hook": 0}

    def hook(real, spark_, root_):
        seen["hook"] += 1
        return real(spark_, root_)

    worker_result = {}

    def worker():
        worker_result["head"] = genlog.current_generation(spark, root)

    with genlog.interpose_head_resolution(hook):
        main_head = genlog.current_generation(spark, root)
        assert seen["hook"] == 1
        t = threading.Thread(target=worker)
        t.start()
        t.join()
    assert worker_result["head"] == main_head
    assert seen["hook"] == 1  # the worker thread never passed through the hook
    # and the hook is disarmed outside the block
    genlog.current_generation(spark, root)
    assert seen["hook"] == 1


def test_compact_after_full_erase_is_a_noop_not_an_error(spark, tmp_path):
    """ADVICE r13: erase-everything leaves the readable-empty placeholder
    head (fc6a9d5); a scheduled compaction landing on it must no-op
    (return 0, no new commit) — not error until an append or rebuild
    arrives — and the index must stay appendable afterwards."""
    from etl_hiscox_spark.operators.similarity import (
        append_to_ivf_index,
        compact_ivf_index,
        erase_from_ivf_index,
        ivf_probe_topk,
        random_hyperplanes,
        write_ivf_index,
    )
    from etl_hiscox_spark.sources import genlog

    rng = np.random.default_rng(23)
    rows = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(24)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    root = "file://" + str(tmp_path / "ivf")
    write_ivf_index(
        emb.filter("vec_id < 12"), root, "embedding", "vec_id",
        centroids=random_hyperplanes(dim=8, n_planes=4, seed=3),
    )
    assert erase_from_ivf_index(spark, root, emb.select("vec_id"), "vec_id") == 12
    ops_before = [g["operation"] for g in genlog.list_generations(spark, root)]
    assert compact_ivf_index(spark, root) == 0  # no-op, loudly nothing
    ops_after = [g["operation"] for g in genlog.list_generations(spark, root)]
    assert ops_after == ops_before == ["build", "erase"]  # no new commit
    # still recoverable: append + probe answer from the delta
    append_to_ivf_index(emb.filter("vec_id >= 12"), root, "embedding", "vec_id")
    q = rows[0][1]
    got = ivf_probe_topk(spark, root, None, "embedding", "vec_id", q, k=5, n_probe=4)
    assert got.count() == 5


def test_vacuum_with_stale_snapshot_never_reclaims_the_real_heads_segments(
    spark, tmp_path, monkeypatch, caplog
):
    """r14 self-review of the concurrent-vacuum tolerance: if ANOTHER
    vacuum advances so far that every pointer in THIS call's keep window
    is deleted (>= keep_last commits landed between our LIST and our
    reads), the stale snapshot would compute an EMPTY liveness set — and
    an old by-reference segment (old mtime, its committing pointers gone)
    would fall through the age gate and be wrongly reclaimed while the
    real head still references it. The fix: a missing KEEP pointer means
    the snapshot is stale — skip directory reclamation entirely (return
    0); the vacuum holding the newer snapshot owns it."""
    import time as _time

    from etl_hiscox_spark.sources import genlog
    from etl_hiscox_spark.sources.versionlog import VersionLog

    local = str(tmp_path / "stale")
    root = "file://" + local
    os.makedirs(local, exist_ok=True)
    gid = genlog.new_geometry_id()

    def seg(name):
        d = os.path.join(local, name)
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "part-0.bin"), "wb") as f:
            f.write(b"d")

    seg("gen-build")
    genlog.commit_generation(None, root, "gen-build", "build", None, geometry_id=gid)
    seg("gen-d1")
    genlog.append_segment(None, root, "gen-d1")                       # v1
    genlog.commit_generation(None, root, "gen-build", "erase", 1,     # v2
                             segments=["gen-build"], geometry_id=gid)
    for n in ("gen-d3", "gen-d4"):                                    # v3, v4
        seg(n)
        genlog.append_segment(None, root, n)
    # make the build segment OLD so the never-committed age gate would
    # not protect it under a stale (empty) liveness view
    old = _time.time() - 7200
    os.utime(os.path.join(local, "gen-build"), (old, old))

    # vacuum B (the "other" vacuum, with the full snapshot) runs first
    genlog.vacuum_generations(None, root, keep_last=3, min_age_seconds=600.0)
    assert genlog.pointer_log(root).versions() == [2, 3, 4]

    # vacuum A replays with the STALE pre-B snapshot: its keep window
    # ({0, 1} at keep_last=3) is entirely deleted — it must reclaim
    # NOTHING, not compute liveness from the stale view
    monkeypatch.setattr(VersionLog, "versions", lambda self: [0, 1])
    # r15 (VERDICT r14 "what's wrong" #1): the deferred reclamation must
    # be OBSERVABLE — a bare 0 reads as "nothing to reclaim" to a
    # scheduler watching return values
    import logging as _logging

    with caplog.at_level(_logging.WARNING, logger="etl_hiscox_spark.genlog"):
        assert genlog.vacuum_generations(
            None, root, keep_last=3, min_age_seconds=600.0
        ) == 0
    assert any("deferring directory reclamation" in r.message for r in caplog.records)
    monkeypatch.undo()
    assert os.path.isdir(os.path.join(local, "gen-build"))  # head data intact
    head_segs = genlog.pointer_segments(
        genlog.read_pointer(root, genlog.current_generation(None, root)[0])
    )
    assert head_segs[0] == "gen-build"


@pytest.mark.parametrize("coarse_mtime_ns", [None, 1_786_905_098_000_000_000])
def test_coarse_mtime_store_fingerprint_binds_to_content(
    tmp_path, monkeypatch, coarse_mtime_ns
):
    """ADVICE r14 (low) + ADVICE r15 (medium): on stores with
    second-resolution mtimes, pointer records are near-fixed-size JSON,
    so an external same-second same-SIZE wipe-and-rebuild is invisible to
    (size, mtime). A pointer read must still return the bytes on disk.
    Both coarse shapes are covered: ``mtime_ns=None`` AND the shape real
    pyarrow S3 actually reports — a NON-None whole-second ``seconds*1e9``
    stamp (the moto test in test_s3_commit.py pins the real store)."""
    from etl_hiscox_spark.sources import genlog, listing

    local = str(tmp_path / "coarse")
    root = "file://" + local
    os.makedirs(os.path.join(local, "gen-a"), exist_ok=True)
    with open(os.path.join(local, "gen-a", "part-0.bin"), "wb") as f:
        f.write(b"d")

    real_fs = listing._resolve_fs

    class CoarseInfo:
        def __init__(self, info):
            self._info = info

        mtime_ns = coarse_mtime_ns  # what S3-class stores report through pyarrow

        def __getattr__(self, name):
            return getattr(self._info, name)

    class CoarseFS:
        def __init__(self, fs):
            self._fs = fs

        def get_file_info(self, p):
            out = self._fs.get_file_info(p)
            return CoarseInfo(out) if not isinstance(out, list) else out

        def __getattr__(self, name):
            return getattr(self._fs, name)

    monkeypatch.setattr(
        listing, "_resolve_fs", lambda path: (lambda fs_p: (CoarseFS(fs_p[0]), fs_p[1]))(real_fs(path))
    )

    genlog.commit_generation(
        None, root, "gen-a", "build", None, geometry_id=genlog.new_geometry_id()
    )
    rec1 = genlog.read_pointer(root, 0)

    # the "other process": same-length different-content record, mtime
    # forced back to the original second — (size, mtime) would MATCH
    pfile = os.path.join(local, "_gen_log", "v0.json")
    st = os.stat(pfile)
    with open(pfile, "rb") as f:
        raw = f.read()
    new_gid = genlog.new_geometry_id()
    rebuilt = raw.replace(rec1["geometry_id"].encode(), new_gid.encode())
    assert len(rebuilt) == len(raw) and rebuilt != raw
    with open(pfile, "wb") as f:
        f.write(rebuilt)
    os.utime(pfile, (st.st_atime, st.st_mtime))

    rec2 = genlog.read_pointer(root, 0)
    assert rec2["geometry_id"] == new_gid  # the bytes on disk


def test_fine_mtime_store_fingerprint_stays_stat_only(tmp_path, monkeypatch):
    """A pointer read is one GET of ``v{N}.json`` and nothing else: no
    stat of the pointer file, however often the same version is read."""
    from etl_hiscox_spark.sources import genlog, listing

    local = str(tmp_path / "fine")
    root = "file://" + local
    os.makedirs(os.path.join(local, "gen-a"), exist_ok=True)
    with open(os.path.join(local, "gen-a", "part-0.bin"), "wb") as f:
        f.write(b"d")
    genlog.commit_generation(
        None, root, "gen-a", "build", None, geometry_id=genlog.new_geometry_id()
    )

    calls = {"open": [], "stat": 0}
    real_fs = listing._resolve_fs

    class CountingFS:
        def __init__(self, fs):
            self._fs = fs

        def open_input_file(self, p):
            calls["open"].append(os.path.basename(p))
            return self._fs.open_input_file(p)

        def get_file_info(self, p):
            calls["stat"] += 1
            return self._fs.get_file_info(p)

        def __getattr__(self, name):
            return getattr(self._fs, name)

    monkeypatch.setattr(
        listing, "_resolve_fs",
        lambda path: (lambda fs_p: (CountingFS(fs_p[0]), fs_p[1]))(real_fs(path)),
    )
    for _ in range(2):
        calls["open"].clear()
        calls["stat"] = 0
        assert genlog.read_pointer(root, 0)["generation"] == "gen-a"
        assert calls == {"open": ["v0.json"], "stat": 0}


def test_pointer_commit_refuses_to_reuse_a_vacuumed_version(tmp_path):
    """r15, found by the multi-actor stress (head != #commits - 1):
    create-if-absent cannot collide with a pointer name vacuum DELETED,
    so a maintenance op whose resolve→commit window spanned >= keep_last
    newer commits AND a vacuum could "win" a retired version number —
    a commit below the surviving prefix that the next vacuum silently
    trims, i.e. a lost write. Vacuum now commits an immutable floor
    marker BEFORE trimming, and the committer unwinds + conflicts when
    its version is at or below the floor."""
    from etl_hiscox_spark.sources import genlog

    local = str(tmp_path / "reuse")
    root = "file://" + local
    os.makedirs(local, exist_ok=True)

    def seg(name):
        d = os.path.join(local, name)
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "part-0.bin"), "wb") as f:
            f.write(b"d")

    gid = genlog.new_geometry_id()
    seg("gen-0")
    genlog.commit_generation(None, root, "gen-0", "build", None, geometry_id=gid)
    for i in range(1, 6):
        seg(f"gen-{i}")
        genlog.commit_generation(
            None, root, f"gen-{i}", "rebuild", i - 1,
            segments=[f"gen-{i}"], geometry_id=genlog.new_geometry_id(),
        )
    assert genlog.pointer_log(root).read_floor() == -1
    genlog.vacuum_generations(None, root, keep_last=2, min_age_seconds=600.0)
    assert genlog.pointer_log(root).versions() == [4, 5]
    assert genlog.pointer_log(root).read_floor() == 3  # marker down before the trim

    # the stale-resolved op: captured base v2 long ago, commits at v3 —
    # a name vacuum retired; the old create-if-absent would have "won"
    seg("gen-stale")
    with pytest.raises(FileExistsError, match="retired by vacuum"):
        genlog.commit_generation(
            None, root, "gen-stale", "compact", 2,
            segments=["gen-stale"], geometry_id=gid,
        )
    assert genlog.pointer_log(root).versions() == [4, 5]  # bogus pointer unwound

    # the protocol proceeds normally above the floor
    seg("gen-new")
    assert genlog.append_segment(None, root, "gen-new") == 6
    genlog.vacuum_generations(None, root, keep_last=2, min_age_seconds=600.0)
    assert genlog.pointer_log(root).read_floor() == 4
    # old floor markers garbage-collected, the max retained
    names = sorted(
        n for n in os.listdir(os.path.join(local, "_gen_log"))
        if n.startswith("_floor_v")
    )
    assert names == ["_floor_v4"]


def test_fresh_pointer_swept_by_concurrent_vacuum_is_not_a_conflict(
    tmp_path, monkeypatch
):
    """ADVICE r15 (low), the false-positive half of the reuse guard: a
    FRESH pointer commit whose version a concurrent vacuum sweeps
    between the winning create-if-absent and the post-link floor read
    was unwound by the r15 classifier and surfaced as an OCC conflict —
    the retry wrapper would then re-append the same delta (duplicates).
    r16 classifies by CONTENT: the name now holds a tombstone (vacuum
    replaced it after the commit landed live), so the commit reports
    SUCCESS. Injected by running newer commits + a vacuum inside the
    commit window, right after the link lands."""
    from etl_hiscox_spark.sources import commitio, genlog

    local = str(tmp_path / "sweep")
    root = "file://" + local
    os.makedirs(local, exist_ok=True)

    def seg(name):
        d = os.path.join(local, name)
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "part-0.bin"), "wb") as f:
            f.write(b"d")

    gid = genlog.new_geometry_id()
    seg("gen-0")
    genlog.commit_generation(None, root, "gen-0", "build", None, geometry_id=gid)
    for i in (1, 2):
        seg(f"gen-{i}")
        genlog.commit_generation(
            None, root, f"gen-{i}", "rebuild", i - 1,
            segments=[f"gen-{i}"], geometry_id=genlog.new_geometry_id(),
        )

    real_commit = commitio.commit_if_absent
    state = {"fired": False}

    def commit_then_sweep(sp, uri, data):
        real_commit(sp, uri, data)
        if uri.endswith("v3.json") and not state["fired"]:
            state["fired"] = True  # nested commits recurse through here
            for i in (4, 5):
                seg(f"gen-{i}")
                genlog.commit_generation(
                    None, root, f"gen-{i}", "rebuild", i - 1,
                    segments=[f"gen-{i}"], geometry_id=genlog.new_geometry_id(),
                )
            genlog.vacuum_generations(None, root, keep_last=2, min_age_seconds=600.0)
            assert genlog.pointer_log(root).read_floor() == 3  # v3 swept

    monkeypatch.setattr(commitio, "commit_if_absent", commit_then_sweep)
    seg("gen-3")
    # the r15 classifier unwound this and raised FileExistsError — the
    # false OCC conflict whose retry re-appends the same delta
    assert genlog.commit_generation(
        None, root, "gen-3", "rebuild", 2,
        segments=["gen-3"], geometry_id=genlog.new_geometry_id(),
    ) == 3
    monkeypatch.undo()

    # the swept commit entered the chain (v4 built on it); head is sane
    assert genlog.current_generation(None, root)[0] == 5
    assert genlog.pointer_log(root).versions() == [4, 5]
    # and a TRUE stale reuse at the swept name still refuses loudly
    seg("gen-stale")
    with pytest.raises(FileExistsError, match="retired"):
        genlog.commit_generation(
            None, root, "gen-stale", "compact", 2,
            segments=["gen-stale"], geometry_id=gid,
        )


def test_stale_reuse_that_slips_the_prelink_guard_is_unwound(tmp_path, monkeypatch):
    """The post-link my-bytes branch (r16): when the pre-link floor read
    fails (store hiccup -> guard skipped as 'unknown') and the target
    name was coalesced-and-freed, the stale commit WINS the
    create-if-absent — the post-link classifier must then read the name,
    see the committer's own bytes (not a tombstone), unwind, and raise
    the standard conflict. This is the rename-window / skipped-guard
    backstop; the fresh-commit case (tombstone state) is proven
    non-conflicting by the sweep test above."""
    from etl_hiscox_spark.sources import genlog
    from etl_hiscox_spark.sources.versionlog import VersionLog

    local = str(tmp_path / "slip")
    root = "file://" + local
    os.makedirs(local, exist_ok=True)

    def seg(name):
        d = os.path.join(local, name)
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "part-0.bin"), "wb") as f:
            f.write(b"d")

    gid = genlog.new_geometry_id()
    seg("gen-0")
    genlog.commit_generation(None, root, "gen-0", "build", None, geometry_id=gid)
    for i in range(1, 5):
        seg(f"gen-{i}")
        genlog.commit_generation(
            None, root, f"gen-{i}", "rebuild", i - 1,
            segments=[f"gen-{i}"], geometry_id=genlog.new_geometry_id(),
        )
    # two retention cycles: vacuum#1 tombstones 0..2 (floor 2), vacuum#2
    # tombstones 3 (floor 3) and COALESCES 0..2 — freeing those names
    genlog.vacuum_generations(None, root, keep_last=2, min_age_seconds=600.0)
    seg("gen-5")
    genlog.append_segment(None, root, "gen-5")
    genlog.vacuum_generations(None, root, keep_last=2, min_age_seconds=600.0)
    log_dir = os.path.join(local, "_gen_log")
    assert "v1.json" not in os.listdir(log_dir)  # coalesced: name freed

    # pre-link guard blind-folded: floor reads fail ONCE each call site
    real_floor = VersionLog.read_floor
    calls = {"n": 0}

    def flaky_floor(self):
        calls["n"] += 1
        if calls["n"] == 1:  # the pre-link read only
            raise OSError("floor store hiccup")
        return real_floor(self)

    monkeypatch.setattr(VersionLog, "read_floor", flaky_floor)
    seg("gen-stale")
    with pytest.raises(FileExistsError, match="retired by vacuum"):
        genlog.commit_generation(
            None, root, "gen-stale", "compact", 0,
            segments=["gen-stale"], geometry_id=gid,
        )
    monkeypatch.undo()
    # the unwind removed the bogus record from the freed name
    assert "v1.json" not in os.listdir(log_dir)
    assert genlog.pointer_log(genlog.resolve_root(None, root)).versions() == [4, 5]


def test_vacuum_tombstones_before_floor_marker_on_atomic_store(tmp_path, monkeypatch):
    """r17 zero-width ordering (VERDICT r16 item 4): on an atomic-replace
    store (local POSIX rename here) vacuum tombstones every victim BEFORE
    the floor marker commits — asserted at the marker call itself — so
    the old floor-marked-but-not-yet-tombstoned state, the one gap where
    a fresh commit's post-link check could read its own bytes at a
    floor-covered name and falsely unwind, cannot exist at all."""
    import json as _json

    from etl_hiscox_spark.sources import genlog
    from etl_hiscox_spark.sources.versionlog import VersionLog

    local = str(tmp_path / "order")
    root = "file://" + local
    os.makedirs(local, exist_ok=True)

    def seg(name):
        d = os.path.join(local, name)
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "part-0.bin"), "wb") as f:
            f.write(b"d")

    seg("gen-0")
    genlog.commit_generation(
        None, root, "gen-0", "build", None, geometry_id=genlog.new_geometry_id()
    )
    for i in range(1, 5):
        seg(f"gen-{i}")
        genlog.commit_generation(
            None, root, f"gen-{i}", "rebuild", i - 1,
            segments=[f"gen-{i}"], geometry_id=genlog.new_geometry_id(),
        )
    assert genlog.pointer_log(genlog.resolve_root(None, root)).retire_is_atomic()

    log_dir = os.path.join(local, "_gen_log")
    real_mark = VersionLog.mark
    seen = {}

    def asserting_mark(self, floor):
        # every victim (0..floor) must ALREADY be a tombstone pair
        for v in range(floor + 1):
            with open(os.path.join(log_dir, f"v{v}.json")) as f:
                assert _json.load(f).get("tombstone") is True
            assert os.path.exists(os.path.join(log_dir, f"v{v}.retired"))
        seen["floor"] = floor
        return real_mark(self, floor)

    monkeypatch.setattr(VersionLog, "mark", asserting_mark)
    genlog.vacuum_generations(None, root, keep_last=2, min_age_seconds=600.0)
    monkeypatch.undo()
    assert seen["floor"] == 2  # victims 0..2, marker last
    assert genlog.pointer_log(genlog.resolve_root(None, root)).read_floor() == 2


def test_fresh_commit_inside_retire_to_marker_gap_is_success(tmp_path, monkeypatch):
    """The injected race the r16 verdict asked to close: a fresh commit
    whose post-link check lands INSIDE the vacuum — after its own name
    was tombstoned, before the floor marker lands (vacuum crashes there:
    marker blocked). Old order would have shown floor>=V + my-bytes and
    falsely unwound; new order shows floor-not-advanced (no sentinel) or
    tombstone content — success either way. Also proves the
    tombstoned-but-unmarked crash state is safe and self-repairs."""
    from etl_hiscox_spark.sources import commitio, genlog
    from etl_hiscox_spark.sources.versionlog import VersionLog

    local = str(tmp_path / "gapfresh")
    root = "file://" + local
    os.makedirs(local, exist_ok=True)

    def seg(name):
        d = os.path.join(local, name)
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "part-0.bin"), "wb") as f:
            f.write(b"d")

    seg("gen-0")
    genlog.commit_generation(
        None, root, "gen-0", "build", None, geometry_id=genlog.new_geometry_id()
    )
    for i in (1, 2):
        seg(f"gen-{i}")
        genlog.commit_generation(
            None, root, f"gen-{i}", "rebuild", i - 1,
            segments=[f"gen-{i}"], geometry_id=genlog.new_geometry_id(),
        )

    real_commit = commitio.commit_if_absent
    state = {"fired": False}

    def commit_then_crashing_sweep(sp, uri, data):
        real_commit(sp, uri, data)
        if uri.endswith("v3.json") and not state["fired"]:
            state["fired"] = True
            for i in (4, 5):
                seg(f"gen-{i}")
                genlog.commit_generation(
                    None, root, f"gen-{i}", "rebuild", i - 1,
                    segments=[f"gen-{i}"], geometry_id=genlog.new_geometry_id(),
                )
            # vacuum tombstones victims (incl. the fresh v3) then CRASHES
            # at the floor marker — the tombstoned-but-unmarked state
            monkeypatch.setattr(
                VersionLog, "mark",
                lambda self, f: (_ for _ in ()).throw(OSError("marker down")),
            )
            genlog.vacuum_generations(None, root, keep_last=2, min_age_seconds=600.0)
            monkeypatch.setattr(VersionLog, "mark", real_mark)

    real_mark = VersionLog.mark
    monkeypatch.setattr(commitio, "commit_if_absent", commit_then_crashing_sweep)
    seg("gen-3")
    # the fresh commit must report SUCCESS, not unwind (its pointer was
    # tombstoned by the sweep after landing; v4 carried it forward)
    assert genlog.commit_generation(
        None, root, "gen-3", "rebuild", 2,
        segments=["gen-3"], geometry_id=genlog.new_geometry_id(),
    ) == 3
    monkeypatch.undo()
    rroot = genlog.resolve_root(None, root)

    # crash state: victims tombstoned, NO floor marker committed
    assert not genlog.pointer_log(rroot).marked_ever()
    assert genlog.pointer_log(rroot).versions() == [4, 5]
    log_dir = os.path.join(local, "_gen_log")
    import json as _json
    with open(os.path.join(log_dir, "v3.json")) as f:
        assert _json.load(f).get("tombstone") is True
    assert genlog.current_generation(None, rroot)[0] == 5

    # self-repair: later cycles put a covering floor down and coalesce
    for i in (6, 7):
        seg(f"gen-{i}")
        genlog.commit_generation(
            None, root, f"gen-{i}", "rebuild", i - 1,
            segments=[f"gen-{i}"], geometry_id=genlog.new_geometry_id(),
        )
    genlog.vacuum_generations(None, root, keep_last=2, min_age_seconds=600.0)
    assert genlog.pointer_log(rroot).read_floor() == 5  # covers the residue
    seg("gen-8")
    genlog.commit_generation(
        None, root, "gen-8", "rebuild", 7,
        segments=["gen-8"], geometry_id=genlog.new_geometry_id(),
    )
    genlog.vacuum_generations(None, root, keep_last=2, min_age_seconds=600.0)
    names = set(os.listdir(log_dir))
    assert "v3.json" not in names and "v3.retired" not in names  # coalesced


def test_coalesce_skips_pair_on_transient_read_error(tmp_path, monkeypatch):
    """ADVICE r16 (low): _coalesce_tombstones must NOT delete the
    .retired sidecar when reading the content file fails with a
    transient OSError — the old fall-through resurfaced a possibly-live
    below-floor record as live until the next vacuum re-victimized it.
    Matching txnlog behavior: skip the pair, let the next run decide."""
    from etl_hiscox_spark.sources import genlog, listing

    local = str(tmp_path / "coal")
    root = "file://" + local
    os.makedirs(local, exist_ok=True)

    def seg(name):
        d = os.path.join(local, name)
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "part-0.bin"), "wb") as f:
            f.write(b"d")

    seg("gen-0")
    genlog.commit_generation(
        None, root, "gen-0", "build", None, geometry_id=genlog.new_geometry_id()
    )
    for i in range(1, 5):
        seg(f"gen-{i}")
        genlog.commit_generation(
            None, root, f"gen-{i}", "rebuild", i - 1,
            segments=[f"gen-{i}"], geometry_id=genlog.new_geometry_id(),
        )
    # cycle 1: tombstones 0..2, floor 2; cycle 2 would coalesce them
    genlog.vacuum_generations(None, root, keep_last=2, min_age_seconds=600.0)
    seg("gen-5")
    genlog.append_segment(None, root, "gen-5")

    rroot = genlog.resolve_root(None, root)
    log_dir = os.path.join(local, "_gen_log")

    class FlakyFS:
        """Proxy to the real fs; v1.json reads raise a transient error."""

        def __init__(self, real):
            self._real = real

        def open_input_file(self, path):
            if path.endswith("v1.json"):
                raise OSError("store hiccup")
            return self._real.open_input_file(path)

        def __getattr__(self, name):
            return getattr(self._real, name)

    real_fs = listing._resolve_fs

    def flaky_fs(path):
        fs, p = real_fs(path)
        return FlakyFS(fs), p

    monkeypatch.setattr(listing, "_resolve_fs", flaky_fs)
    genlog.vacuum_generations(None, root, keep_last=2, min_age_seconds=600.0)
    monkeypatch.undo()

    names = set(os.listdir(log_dir))
    # v0/v2 pairs coalesced; the v1 PAIR survives intact (both files)
    assert "v0.json" not in names and "v0.retired" not in names
    assert "v2.json" not in names and "v2.retired" not in names
    assert "v1.json" in names and "v1.retired" in names
    # v1 stays excluded from the live listing (sidecar intact)
    assert genlog.pointer_log(rroot).versions() == [4, 5]
    # next (unflaky) vacuum coalesces it
    seg("gen-6")
    genlog.append_segment(None, root, "gen-6")
    genlog.vacuum_generations(None, root, keep_last=2, min_age_seconds=600.0)
    names = set(os.listdir(log_dir))
    assert "v1.json" not in names and "v1.retired" not in names


def test_vacuum_finishes_half_retired_pairs(tmp_path, monkeypatch):
    """ADVICE r16 (low): a _retire_pointer that wrote the sidecar and
    then lost the content replace leaves a name that is excluded from
    the live listing yet still SERVES the retired record on a direct
    read, and no later vacuum would retry — unbounded residue. The
    repair pass re-runs the content replace (age-gated by the record's
    committed_at against vacuum's min_age_seconds)."""
    import json as _json

    from etl_hiscox_spark.sources import commitio, genlog

    local = str(tmp_path / "half")
    root = "file://" + local
    os.makedirs(local, exist_ok=True)

    def seg(name):
        d = os.path.join(local, name)
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "part-0.bin"), "wb") as f:
            f.write(b"d")

    seg("gen-0")
    genlog.commit_generation(
        None, root, "gen-0", "build", None, geometry_id=genlog.new_geometry_id()
    )
    for i in range(1, 4):
        seg(f"gen-{i}")
        genlog.commit_generation(
            None, root, f"gen-{i}", "rebuild", i - 1,
            segments=[f"gen-{i}"], geometry_id=genlog.new_geometry_id(),
        )

    # inject: the v0 content replace fails once -> sidecar-only retire
    real_replace = commitio.replace_put

    def flaky_replace(fs, path, data):
        if path.endswith("v0.json"):
            raise OSError("content replace lost")
        return real_replace(fs, path, data)

    monkeypatch.setattr(commitio, "replace_put", flaky_replace)
    genlog.vacuum_generations(None, root, keep_last=2, min_age_seconds=600.0)
    monkeypatch.undo()

    rroot = genlog.resolve_root(None, root)
    log_dir = os.path.join(local, "_gen_log")
    with open(os.path.join(log_dir, "v0.json")) as f:
        assert not _json.load(f).get("tombstone")  # half-retired: live content
    assert os.path.exists(os.path.join(log_dir, "v0.retired"))
    assert genlog.pointer_log(rroot).versions() == [2, 3]  # excluded regardless

    # age-gated: a young record is NOT touched (600s gate)
    genlog.vacuum_generations(None, root, keep_last=2, min_age_seconds=600.0)
    with open(os.path.join(log_dir, "v0.json")) as f:
        assert not _json.load(f).get("tombstone")

    # past the gate the repair pass finishes the retire
    genlog.vacuum_generations(None, root, keep_last=2, min_age_seconds=0.0)
    with open(os.path.join(log_dir, "v0.json")) as f:
        assert _json.load(f).get("tombstone") is True
    # and a read of the repaired name now raises the loud retired error
    with pytest.raises(FileNotFoundError, match="retired by vacuum"):
        genlog.read_pointer(rroot, 0)


def test_generational_single_segment_no_hit_erase_commits_nothing(spark, tmp_path):
    """r18 fused stats+rewrite path: an erase whose keys match NOTHING on
    a single-segment head must return 0 WITHOUT committing a generation
    and without stranding its staged tree (the fused form stages the
    rewrite before it knows the hit count — the no-hit stage is removed,
    or at worst left as the crash-before-meta debris vacuum reclaims)."""
    from etl_hiscox_spark.operators.dedup import (
        erase_from_minhash_index,
        write_minhash_index,
    )
    from etl_hiscox_spark.sources import genlog

    root = "file://" + str(tmp_path / "mh_nohit")
    docs = _docs(spark)
    write_minhash_index(docs, "text", "doc_id", root)
    assert [g["operation"] for g in genlog.list_generations(spark, root)] == ["build"]
    ghost = spark.createDataFrame([(424242,)], "doc_id long")
    assert erase_from_minhash_index(spark, root, ghost, "doc_id") == 0
    # no new commit, and no stranded gen-* stage on disk
    assert [g["operation"] for g in genlog.list_generations(spark, root)] == ["build"]
    local = str(tmp_path / "mh_nohit")
    assert len([d for d in os.listdir(local) if d.startswith("gen-")]) == 1
    # the index still answers probes
    assert _probe_pairs(spark, root, docs)


def test_generational_single_segment_hit_erase_counts_exact_rows(spark, tmp_path):
    """The fused path's observe-derived count must equal the bucket rows
    actually dropped (num_bands per erased doc), same as the stats-first
    multi-segment path."""
    from etl_hiscox_spark.operators.dedup import (
        erase_from_minhash_index,
        write_minhash_index,
    )
    from etl_hiscox_spark.sources import genlog

    root = "file://" + str(tmp_path / "mh_hit")
    docs = _docs(spark)
    write_minhash_index(docs, "text", "doc_id", root, num_hashes=24, num_bands=6)
    keys = spark.createDataFrame([(3,), (7,)], "doc_id long")
    assert erase_from_minhash_index(spark, root, keys, "doc_id") == 12  # 2 docs x 6 bands
    ops = [g["operation"] for g in genlog.list_generations(spark, root)]
    assert ops == ["build", "erase"]
    assert 3 not in _probe_pairs(spark, root, docs)


@pytest.fixture(scope="module")
def flat_trees(spark, tmp_path_factory):
    """One flat LSH tree and one flat quantized-IVF tree (``_flat_copy``),
    plus the frames the entry points below are called with."""
    from etl_hiscox_spark.operators.dedup import write_minhash_index
    from etl_hiscox_spark.operators.similarity import random_hyperplanes, write_ivf_index

    d = tmp_path_factory.mktemp("flat_trees")
    docs = _docs(spark, 10)
    rng = np.random.default_rng(13)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(4)]) for i in range(10)],
        "vec_id long, embedding array<float>",
    )
    _flat_copy(spark, lambda p: write_minhash_index(docs, "text", "doc_id", p), str(d / "mh"))
    _flat_copy(
        spark,
        lambda p: write_ivf_index(
            emb, p, "embedding", "vec_id",
            centroids=random_hyperplanes(dim=4, n_planes=3, seed=1), quantize=True,
        ),
        str(d / "ivf"),
    )
    return {
        "mh": str(d / "mh"), "ivf": str(d / "ivf"), "docs": docs, "emb": emb,
        "keys": spark.createDataFrame([(3,)], "doc_id long"),
        "vkeys": spark.createDataFrame([(3,)], "vec_id long"),
        "q": [1.0, 0.0, 0.0, 0.0],
    }


def _flat_entry_points():
    from etl_hiscox_spark.operators import dedup, similarity as sim
    from etl_hiscox_spark.plans.gdpr import erase_subject

    return {
        "probe_minhash_index": lambda s, t: dedup.probe_minhash_index(
            t["docs"], "text", "doc_id", t["mh"]
        ).collect(),
        "minhash_fragmentation_stats": lambda s, t: dedup.minhash_fragmentation_stats(
            s, t["mh"]
        ).collect(),
        "append_minhash": lambda s, t: dedup.write_minhash_index(
            t["docs"], "text", "doc_id", t["mh"], mode="append"
        ),
        "compact_minhash_index": lambda s, t: dedup.compact_minhash_index(s, t["mh"]),
        "erase_from_minhash_index": lambda s, t: dedup.erase_from_minhash_index(
            s, t["mh"], t["keys"], "doc_id"
        ),
        "rebuild_minhash_index": lambda s, t: dedup.rebuild_minhash_index(
            s, t["docs"], "text", "doc_id", t["mh"]
        ),
        "ivf_probe_topk": lambda s, t: sim.ivf_probe_topk(
            s, t["ivf"], None, "embedding", "vec_id", t["q"], k=3, n_probe=3
        ).collect(),
        "ivf_probe_topk_quantized": lambda s, t: sim.ivf_probe_topk_quantized(
            s, t["ivf"], "embedding", "vec_id", t["q"], k=3, n_probe=3
        ).collect(),
        "ivf_fragmentation_stats": lambda s, t: sim.ivf_fragmentation_stats(
            s, t["ivf"]
        ).collect(),
        "ivf_centroid_drift": lambda s, t: sim.ivf_centroid_drift(
            s, t["ivf"], t["emb"], "embedding"
        ).collect(),
        "append_to_ivf_index": lambda s, t: sim.append_to_ivf_index(
            t["emb"], t["ivf"], "embedding", "vec_id"
        ),
        "compact_ivf_index": lambda s, t: sim.compact_ivf_index(s, t["ivf"]),
        "erase_from_ivf_index": lambda s, t: sim.erase_from_ivf_index(
            s, t["ivf"], t["vkeys"], "vec_id"
        ),
        "rebuild_ivf_index": lambda s, t: sim.rebuild_ivf_index(
            s, t["ivf"], "embedding", "vec_id", max_iter=2
        ),
        "gdpr_erase_subject": lambda s, t: erase_subject(
            s, t["keys"],
            ivf_indexes=[(t["ivf"], "vec_id")],
            minhash_indexes=[(t["mh"], "doc_id")],
        ),
    }


@pytest.mark.parametrize("entry_point", sorted(_flat_entry_points()))
def test_every_index_entry_point_rejects_a_flat_root(spark, flat_trees, entry_point):
    """The generational layout is the only one: every probe, append,
    compact, erase and rebuild entry point (and the GDPR composition)
    rejects a non-generational tree loudly, in genlog's head resolution,
    and says to rebuild from source rows — it never reads or rewrites the
    tree in place."""
    def files():
        return {
            k: sorted(os.path.relpath(os.path.join(r, f), flat_trees[k])
                      for r, _, fs in os.walk(flat_trees[k]) for f in fs)
            for k in ("mh", "ivf")
        }

    before = files()
    with pytest.raises(
        ValueError, match="not a GENERATIONAL index root .*rebuild the index from its source rows"
    ):
        _flat_entry_points()[entry_point](spark, flat_trees)
    assert files() == before  # nothing staged, nothing moved
