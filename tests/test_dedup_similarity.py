"""Dedup + similarity operators on synthetic near-duplicates — behavioral
checks the DuckDB oracle can't express (xxhash-based signatures)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from etl_hiscox_spark.operators.dedup import (
    _LSH,
    exact_dedup,
    jaccard_pairs,
    minhash_candidates,
    near_dedup_minhash,
    simhash_candidates,
    simhash_table,
)
from etl_hiscox_spark.operators.segindex import live_rows
from etl_hiscox_spark.operators.similarity import (
    _IVF,
    ann_topk_lsh,
    cosine_topk,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the window and the birds sing in the morning light over the hills"
)


def _live_dirs(spark, root):
    """Driver-local paths of an index root's live segments."""
    from etl_hiscox_spark.sources.genlog import live_index_paths
    from etl_hiscox_spark.sources.writers import _local_fs_path

    return [_local_fs_path(p) for p in live_index_paths(spark, root)]


def _docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),  # exact dup of 0
        (2, BASE.replace("morning", "evening")),  # near dup of 0
        (3, "completely different content about database query engines and "
            "distributed systems with shuffle joins and columnar storage formats"),
        (4, "  " + BASE.upper() + "  "),  # normalization dup of 0
        (5, BASE.replace("fox", "wolf").replace("dog", "hound")),  # near dup
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_normalization(spark):
    out = exact_dedup(_docs(spark), "text", "doc_id")
    kept = {r["doc_id"] for r in out.collect()}
    # 0,1,4 collapse to keeper 0; 2,3,5 distinct
    assert kept == {0, 2, 3, 5}


def test_minhash_lsh_finds_near_dups(spark):
    cands = minhash_candidates(_docs(spark), "text", "doc_id", num_hashes=32, num_bands=16)
    pairs = {(r["id_a"], r["id_b"]) for r in cands.collect()}
    assert (0, 1) in pairs  # exact dup must be a candidate
    assert (0, 2) in pairs or (1, 2) in pairs  # near dup found
    assert (0, 3) not in pairs  # unrelated not a candidate


def test_jaccard_verify_scores(spark):
    docs = _docs(spark)
    cands = minhash_candidates(docs, "text", "doc_id", num_hashes=32, num_bands=16)
    scored = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_pairs(docs, cands, "text", "doc_id").collect()
    }
    assert scored[(0, 1)] == 1.0
    if (0, 2) in scored:
        assert 0.5 < scored[(0, 2)] < 1.0


def test_near_dedup_end_to_end(spark):
    out = near_dedup_minhash(
        _docs(spark), "text", "doc_id", threshold=0.5, num_hashes=32, num_bands=16
    )
    kept = {r["doc_id"] for r in out.collect()}
    assert 3 in kept  # unrelated doc survives
    assert 0 in kept  # cluster keeper survives
    assert 1 not in kept  # exact dup dropped
    assert 2 not in kept  # near dup dropped


def test_near_dedup_reliable_checkpoint_dir(spark, tmp_path):
    # checkpoint_dir switches localCheckpoint -> reliable checkpoint():
    # identical survivors, and RDD checkpoint data lands under the dir
    # (the executor-loss-tolerant cluster configuration).
    import os

    ckpt = str(tmp_path / "ckpt")
    kw = dict(threshold=0.5, num_hashes=32, num_bands=16)
    default_kept = {r["doc_id"] for r in near_dedup_minhash(_docs(spark), "text", "doc_id", **kw).collect()}
    out = near_dedup_minhash(_docs(spark), "text", "doc_id", checkpoint_dir=ckpt, **kw)
    assert {r["doc_id"] for r in out.collect()} == default_kept
    written = [f for _, _, fs in os.walk(ckpt) for f in fs]
    assert written, "reliable checkpoint wrote nothing under checkpoint_dir"

    from etl_hiscox_spark.operators.dedup import connected_components, near_dedup_clusters

    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "id_a long, id_b long")
    comp = {
        r["node"]: r["component"]
        for r in connected_components(pairs, checkpoint_dir=ckpt).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}
    default_clustered = {
        r["doc_id"]
        for r in near_dedup_clusters(_docs(spark), "text", "doc_id", **kw).collect()
    }
    clustered = near_dedup_clusters(
        _docs(spark), "text", "doc_id", checkpoint_dir=ckpt, **kw
    )
    assert {r["doc_id"] for r in clustered.collect()} == default_clustered


def test_simhash_hamming_locality(spark):
    docs = _docs(spark)
    sims = {r["doc"]: r["sim"] for r in simhash_table(docs, "text", "doc_id").collect()}
    assert sims[0] == sims[1] == sims[4]  # normalization-identical
    ham_near = bin((sims[0] ^ sims[2]) & (2**64 - 1)).count("1")
    ham_far = bin((sims[0] ^ sims[3]) & (2**64 - 1)).count("1")
    assert ham_near < ham_far  # near-dup closer in Hamming space
    cands = simhash_candidates(docs, "text", "doc_id", max_hamming=3)
    pairs = {(r["id_a"], r["id_b"]) for r in cands.collect()}
    assert (0, 1) in pairs and (0, 4) in pairs


def test_l3_ivf_probe_query_recall_vs_exact(spark):
    # The declared deployment-form ANN query (write index -> pruned probe)
    # must hold a recall floor against the exact brute-force query on the
    # same table. Deterministic (seeded k-means on fixed data): measured
    # 0.7 at sf0.001 / 1.0 at sf0.01 with n_probe=8/16; the floor leaves
    # margin for k-means library drift only.
    from etl_hiscox_spark.queries import all_queries

    sf = "/root/testdata/sf0.001"
    qs = all_queries()
    exact = {r["vec_id"] for r in qs["l3_cosine_topk"].fn(spark, sf).collect()}
    ivf = {r["vec_id"] for r in qs["l3_ivf_probe_topk"].fn(spark, sf).collect()}
    assert len(ivf & exact) / len(exact) >= 0.6


def test_l3_ivf_matches_exact_at_check_scale(spark):
    # Backs the r8 oracle upgrade: at the driver's correctness scale
    # (sf0.01) the seeded probe must return the exact brute-force top-10
    # ROW FOR ROW (ids, rounded sims, ranks) — the declared oracle is the
    # exact-cosine SQL twin, so any recall dip here would surface as a
    # driver hash FAIL. Deterministic: seeded k-means on fixed data.
    from etl_hiscox_spark.queries import all_queries

    sf = "/root/testdata/sf0.01"
    qs = all_queries()
    key = lambda r: r["rank"]  # noqa: E731
    exact = [tuple(r) for r in sorted(qs["l3_cosine_topk"].fn(spark, sf).collect(), key=key)]
    ivf = [tuple(r) for r in sorted(qs["l3_ivf_probe_topk"].fn(spark, sf).collect(), key=key)]
    assert ivf == exact


def _emb_df(spark, n=50, dim=8, seed=7):
    rng = np.random.default_rng(seed)
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    vecs[1] = vecs[0] + 0.01 * rng.standard_normal(dim).astype(np.float32)  # near nbr
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>"), vecs


def test_cosine_topk_exact(spark):
    df, vecs = _emb_df(spark)
    out = cosine_topk(df, "embedding", "vec_id", [float(x) for x in vecs[0]], k=3).collect()
    assert out[0]["vec_id"] == 0 and abs(out[0]["cosine_sim"] - 1.0) < 1e-9
    assert out[1]["vec_id"] == 1  # the planted near neighbor
    assert [r["rank"] for r in out] == [1, 2, 3]


def test_ann_lsh_recalls_planted_neighbor(spark):
    df, vecs = _emb_df(spark)
    out = ann_topk_lsh(
        df, "embedding", "vec_id", [float(x) for x in vecs[0]], k=3, n_planes=8, multiprobe=2
    ).collect()
    ids = [r["vec_id"] for r in out]
    assert 0 in ids and 1 in ids  # query and planted neighbor in same bucket region


def test_minhash_24_6_recall_on_planted_dups(spark):
    """Recall pin for the declared l2 query's 24-hash / 6-band config.

    Theory: band width stays 4 (same per-band selectivity as 32/8), so at
    J≈0.9 a band collides w.p. 0.9^4≈0.656 and recall over 6 bands is
    1-(1-0.656)^6 ≈ 0.998; at the J=0.8 threshold it is ≈0.96 (vs ≈0.88
    for 16/4 — the r3 config the advisor flagged as a silent recall drop,
    and ≈0.985 for 32/8). Plant 30 high-similarity pairs (one word of 60
    swapped → J≈0.9) and require ≥85% found — far above chance, low
    enough to not flake on the seed."""
    import random

    rng = random.Random(1234)
    vocab = [f"w{i:03d}" for i in range(400)]
    rows = []
    n_pairs = 30
    for i in range(n_pairs):
        words = [vocab[rng.randrange(len(vocab))] for _ in range(60)]
        dup = list(words)
        dup[rng.randrange(60)] = vocab[rng.randrange(len(vocab))]
        rows.append((i, " ".join(words)))
        rows.append((i + 1000, " ".join(dup)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cands = minhash_candidates(docs, "text", "doc_id", num_hashes=24, num_bands=6)
    got = {(r["id_a"], r["id_b"]) for r in cands.collect()}
    found = sum(1 for i in range(n_pairs) if (i, i + 1000) in got)
    assert found >= 0.85 * n_pairs, f"recall {found}/{n_pairs}"


def test_semantic_dedup_planted_clusters(spark):
    """SemDeDup composition: three near-identical vectors in one block
    collapse to the min id (transitively — A~B, B~C without A~C being
    required); orthogonal vectors all survive; blocks never mix."""
    from etl_hiscox_spark.operators.similarity import semantic_dedup

    rows = [
        # block "x": 1,2 similar; 3 similar to 2 but less to 1 (chain)
        (1, "x", [1.0, 0.0, 0.0]),
        (2, "x", [0.98, 0.2, 0.0]),
        (3, "x", [0.9, 0.42, 0.0]),
        # block "x": orthogonal survivor
        (4, "x", [0.0, 0.0, 1.0]),
        # block "y": same direction as 1 but different block -> untouched
        (5, "y", [1.0, 0.0, 0.0]),
        (6, "y", [0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, label string, embedding array<double>")
    out = semantic_dedup(df, "embedding", "vec_id", "label", threshold=0.9)
    kept = {r["vec_id"] for r in out.collect()}
    assert kept == {1, 4, 5, 6}


def test_malformed_embeddings_do_not_crash(spark):
    # ADVICE r3: NULL / empty / wrong-length embedding cells must degrade to
    # NaN scores (filtered), not TypeError/ValueError inside the Arrow batch.
    from etl_hiscox_spark.operators.similarity import (
        blocked_cosine_pairs_pandas,
        lsh_bucket,
        random_hyperplanes,
    )

    df, vecs = _emb_df(spark, n=10)
    bad = spark.createDataFrame(
        [(100, None), (101, []), (102, [1.0, 2.0])],  # null / empty / ragged
        "vec_id long, embedding array<float>",
    )
    mixed = df.unionByName(bad)

    out = cosine_topk(mixed, "embedding", "vec_id", [float(x) for x in vecs[0]], k=3).collect()
    assert out[0]["vec_id"] == 0
    assert all(r["vec_id"] < 100 for r in out)  # malformed rows never rank

    planes = random_hyperplanes(8, n_planes=6)
    buckets = {
        r["vec_id"]: r["b"]
        for r in mixed.select("vec_id", lsh_bucket(F.col("embedding"), planes).alias("b")).collect()
    }
    assert buckets[100] == buckets[101] == buckets[102] == -1  # quarantine bucket
    assert all(b >= 0 for vid, b in buckets.items() if vid < 100)

    blocked = mixed.withColumn("blk", F.lit(1))
    pairs = blocked_cosine_pairs_pandas(blocked, "embedding", "vec_id", "blk", threshold=0.9)
    ids_in_pairs = {x for r in pairs.collect() for x in (r["id_a"], r["id_b"])}
    assert ids_in_pairs and all(i < 100 for i in ids_in_pairs)


def test_simhash_portable_and_fast_modes_agree_on_planted_dups(spark):
    """The sha256-portable bit source and the xxhash64 fast path are
    different hash families, so candidate PAIRS can differ on borderline
    docs — but both must find planted near-duplicates (1-word edit on a
    40-word doc) and neither may pair unrelated docs."""
    import random

    from etl_hiscox_spark.operators.dedup import simhash_candidates

    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(500)]
    n_words = 120  # vote margins scale ~sqrt(n): a 1-word edit on 120
    rows = []      # words rarely flips > 3 of the 64 bits
    for i in range(20):
        words = [rng.choice(vocab) for _ in range(n_words)]
        rows.append((2 * i, " ".join(words)))
        mutated = list(words)
        mutated[rng.randrange(n_words)] = "zzz"
        rows.append((2 * i + 1, " ".join(mutated)))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    planted = {(2 * i, 2 * i + 1) for i in range(20)}
    for portable in (False, True):
        pairs = {
            (r["id_a"], r["id_b"])
            for r in simhash_candidates(df, "text", "doc_id", max_hamming=3, portable=portable).collect()
        }
        # a 1/40-word edit usually lands within Hamming 3 but not always —
        # both hash families must recover most planted pairs and invent none
        found = len(planted & pairs)
        assert found >= 15, f"portable={portable} found only {found}/20 planted dups"
        assert pairs <= planted, f"portable={portable} paired unrelated docs: {pairs - planted}"


def test_quantized_topk_matches_exact_topk(spark):
    """Int8 candidate scan + exact rerank must return the exact top-k on
    well-conditioned data: the rerank stage is exact, so equality holds iff
    the true top-k all survive the 3x quantized candidate cut — the recall
    property the operator exists to provide."""
    from etl_hiscox_spark.operators.similarity import quantized_topk

    df, vecs = _emb_df(spark, n=80)
    q = [float(x) for x in vecs[0]]
    exact = cosine_topk(df, "embedding", "vec_id", q, k=5).collect()
    quant = quantized_topk(df, "embedding", "vec_id", q, k=5, rerank_factor=3).collect()
    assert [r["vec_id"] for r in quant] == [r["vec_id"] for r in exact]
    assert [r["rank"] for r in quant] == [1, 2, 3, 4, 5]
    for qr, er in zip(quant, exact):
        assert abs(qr["exact_cos"] - er["cosine_sim"]) < 1e-9
        # int8 quantization keeps the approximate score within ~1/127-ish
        assert abs(qr["approx_cos"] - er["cosine_sim"]) < 0.05


def test_quantized_topk_zero_rows_filtered(spark):
    from etl_hiscox_spark.operators.similarity import quantized_topk

    df, vecs = _emb_df(spark, n=20)
    zero = spark.createDataFrame(
        [(999, [0.0] * vecs.shape[1])], "vec_id long, embedding array<float>"
    )
    out = quantized_topk(
        df.union(zero), "embedding", "vec_id", [float(x) for x in vecs[0]], k=21
    ).collect()
    assert 999 not in [r["vec_id"] for r in out]  # zero-norm row filtered


def test_quantized_topk_zero_query_empty(spark):
    from etl_hiscox_spark.operators.similarity import quantized_topk

    df, _ = _emb_df(spark, n=10)
    out = quantized_topk(df, "embedding", "vec_id", [0.0] * 8, k=3).collect()
    assert out == []


def test_half_up_matches_decimal_half_up():
    """The Arrow-tier quantizer's tie-break must equal ROUND_HALF_UP on the
    exact binary value — including representable halves and doubles a ulp
    below them (where floor(x+0.5) misrounds)."""
    import decimal

    import numpy as np

    from etl_hiscox_spark.operators.similarity import _half_up

    def ref(x):
        return int(
            decimal.Decimal(x).quantize(decimal.Decimal(1), rounding=decimal.ROUND_HALF_UP)
        )

    grid = [0.0, 0.5, -0.5, 1.5, -1.5, 2.5, 126.5, -126.5,
            np.nextafter(0.5, 0), np.nextafter(0.5, 1),
            np.nextafter(-0.5, 0), np.nextafter(-0.5, -1),
            0.49999999999999994, 1.9999999999999998, 37.25, -37.75]
    got = _half_up(np.array(grid, dtype=np.float64))
    assert got.tolist() == [ref(x) for x in grid]


def test_minhash_index_roundtrip_probe(spark, tmp_path):
    """write_minhash_index + probe_minhash_index: the probe must find the
    planted cross-batch near-dup, never self-matches, and confirmed pairs
    carry exact Jaccard."""
    from etl_hiscox_spark.operators.dedup import probe_minhash_index, write_minhash_index

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    old_rows = [(0, base), (2, "totally different words entirely here now")]
    # 101 = near-dup of 0 (one token changed); 103 = unrelated; 0 re-ingested
    new_rows = [(101, base.replace("kappa", "lambda")), (103, "nothing shared at all whatsoever"), (0, base)]
    old = spark.createDataFrame(old_rows, "doc_id long, text string")
    new = spark.createDataFrame(new_rows, "doc_id long, text string")
    path = str(tmp_path / "idx")
    write_minhash_index(old, "text", "doc_id", path, num_hashes=24, num_bands=6)

    cand = probe_minhash_index(new, "text", "doc_id", path).collect()
    pairs = {(r["new_id"], r["dup_of"]) for r in cand}
    assert (101, 0) in pairs
    assert (0, 0) not in pairs  # re-ingested doc is not its own duplicate

    confirmed = probe_minhash_index(
        new, "text", "doc_id", path, verify_df=old.union(new), threshold=0.5
    ).collect()
    by_pair = {(r["new_id"], r["dup_of"]): r["jaccard"] for r in confirmed}
    assert (101, 0) in by_pair and 0.5 <= by_pair[(101, 0)] < 1.0
    assert all(nid != 103 for nid, _ in by_pair)


def test_minhash_index_append_and_param_guard(spark, tmp_path):
    from etl_hiscox_spark.operators.dedup import probe_minhash_index, write_minhash_index

    d1 = spark.createDataFrame([(1, "a b c d e f g h")], "doc_id long, text string")
    d2 = spark.createDataFrame([(2, "p q r s t u v w")], "doc_id long, text string")
    path = str(tmp_path / "idx")
    write_minhash_index(d1, "text", "doc_id", path, num_hashes=24, num_bands=6)
    # append with matching params extends the index
    write_minhash_index(d2, "text", "doc_id", path, num_hashes=24, num_bands=6, mode="append")
    probe = spark.createDataFrame([(9, "p q r s t u v w")], "doc_id long, text string")
    got = probe_minhash_index(probe, "text", "doc_id", path).collect()
    assert {(r["new_id"], r["dup_of"]) for r in got} == {(9, 2)}
    # append with different banding must fail loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="parameter mismatch"):
        write_minhash_index(d2, "text", "doc_id", path, num_hashes=32, num_bands=8, mode="append")


def test_minhash_index_rejects_unbandable_width(spark, tmp_path):
    """write side enforces the same divisibility guard as
    minhash_candidates — an index with silently-truncated bands would
    propagate its recall loss to every probe via the meta (r8 review)."""
    import pytest as _pytest

    from etl_hiscox_spark.operators.dedup import write_minhash_index

    d = spark.createDataFrame([(1, "a b c d e f")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="divisible"):
        write_minhash_index(d, "text", "doc_id", str(tmp_path / "idx"), num_hashes=24, num_bands=5)


def test_probe_unresolved_candidates_surface_as_null(spark, tmp_path):
    """Candidates whose ids verify_df cannot resolve must come back with
    jaccard NULL — not silently vanish from the report (r8 review)."""
    from etl_hiscox_spark.operators.dedup import probe_minhash_index, write_minhash_index

    base = "alpha beta gamma delta epsilon zeta eta theta"
    old = spark.createDataFrame([(0, base)], "doc_id long, text string")
    new = spark.createDataFrame([(101, base)], "doc_id long, text string")
    path = str(tmp_path / "idx")
    write_minhash_index(old, "text", "doc_id", path)
    # verify_df resolves only the NEW side — the old doc's counts are missing
    out = probe_minhash_index(new, "text", "doc_id", path, verify_df=new, threshold=0.5).collect()
    assert [(r["new_id"], r["dup_of"], r["jaccard"]) for r in out] == [(101, 0, None)]
    # a fully-resolving verify_df scores the same pair exactly
    full = probe_minhash_index(
        new, "text", "doc_id", path, verify_df=old.union(new), threshold=0.5
    ).collect()
    assert [(r["new_id"], r["dup_of"]) for r in full] == [(101, 0)]
    assert abs(full[0]["jaccard"] - 1.0) < 1e-12


def test_interrupted_index_overwrite_fails_loud(spark, tmp_path):
    """Commit protocol (ADVICE r8): an overwrite that dies mid-flight fails
    LOUDLY and commits nothing — meta and buckets live in one immutable
    segment, so probes keep answering from the previous head and can never
    band against a meta that differs from the buckets (which would
    silently return zero duplicates)."""
    import pytest as _pytest

    from etl_hiscox_spark.operators.dedup import (
        probe_minhash_index,
        write_minhash_index,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta"
    old = spark.createDataFrame([(0, base)], "doc_id long, text string")
    new = spark.createDataFrame([(1, base)], "doc_id long, text string")
    path = str(tmp_path / "idx")
    write_minhash_index(old, "text", "doc_id", path, num_hashes=24, num_bands=6)
    assert probe_minhash_index(new, "text", "doc_id", path).count() == 1

    # an overwrite that dies mid-flight: the signature build fails (bad
    # column) while staging, before any pointer commit
    with _pytest.raises(Exception):
        write_minhash_index(old, "no_such_col", "doc_id", path, num_hashes=24, num_bands=6)
    assert probe_minhash_index(new, "text", "doc_id", path).count() == 1

    # a clean rebuild still lands
    write_minhash_index(old, "text", "doc_id", path, num_hashes=24, num_bands=6)
    assert probe_minhash_index(new, "text", "doc_id", path).count() == 1


def test_probe_with_verify_releases_owned_caches(spark, tmp_path):
    """Cache lifecycle (ADVICE r8 / VERDICT r8 item 4): the probe's
    internal persists (candidate set + jaccard shingle stem) ride the
    returned frame; release_caches after materializing restores the
    session's cached-RDD count — nothing accumulates across foreachBatch
    invocations or long-lived pipeline sessions."""
    from etl_hiscox_spark.operators.caching import (
        cached_rdd_ids,
        release_caches,
    )
    from etl_hiscox_spark.operators.dedup import (
        probe_minhash_index,
        write_minhash_index,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    old = spark.createDataFrame(
        [(0, base), (2, "one two three four five six")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(1, base.replace("kappa", "lambda"))], "doc_id long, text string"
    )
    path = str(tmp_path / "idx")
    write_minhash_index(old, "text", "doc_id", path)

    # id-SET comparison, not counts: the ContextCleaner may reap caches
    # an earlier test released with blocking=False at any moment, so an
    # absolute count is full-suite-order flaky (r12); what this test
    # pins is that THE PROBE'S new caches are gone after release
    before_ids = cached_rdd_ids(spark)
    out = probe_minhash_index(
        new, "text", "doc_id", path, verify_df=old.union(new), threshold=0.5
    )
    rows = out.collect()
    assert [(r["new_id"], r["dup_of"]) for r in rows] == [(1, 0)]
    assert cached_rdd_ids(spark) - before_ids  # persists were real
    released = release_caches(out)
    assert released >= 2  # candidate set + shingle stem
    assert not (cached_rdd_ids(spark) - before_ids)  # all probe caches gone
    assert release_caches(out) == 0  # idempotent


def test_skew_profile_and_jaccard_release_owned_caches(spark):
    """Same lifecycle contract for the other two internally-persisting
    operators: key_skew_profile's count stem and jaccard_pairs' shingle
    stem free on release."""
    from pyspark.sql import functions as F

    from etl_hiscox_spark.operators.caching import (
        cached_rdd_ids,
        owned_caches,
        release_caches,
    )
    from etl_hiscox_spark.operators.dedup import jaccard_pairs
    from etl_hiscox_spark.operators.diagnostics import key_skew_profile

    # id sets, not counts — immune to the ContextCleaner reaping earlier
    # tests' blocking=False releases mid-test (r12 full-suite flake)
    before_ids = cached_rdd_ids(spark)
    df = spark.range(100).select((F.col("id") % 7).alias("k"))
    with owned_caches(key_skew_profile(df, "k", top_k=3)) as prof:
        assert prof.count() == 3
        assert len(cached_rdd_ids(spark) - before_ids) == 1
    assert not (cached_rdd_ids(spark) - before_ids)

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e")], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    out = jaccard_pairs(docs, pairs, "text", "doc_id", shingle_k=2)
    assert out.count() == 1
    assert len(cached_rdd_ids(spark) - before_ids) == 1
    release_caches(out)
    assert not (cached_rdd_ids(spark) - before_ids)


def test_jaccard_pairs_checkpoint_dir_goes_to_reliable_storage(spark, tmp_path):
    """ADVICE r17: with ``checkpoint_dir`` set the multi-branch set table
    must hit RELIABLE storage (cluster contract: survives executor loss),
    not a lazy persist that keeps full lineage back to the corpus scan."""
    import os

    from etl_hiscox_spark.operators.caching import release_caches

    ckpt = str(tmp_path / "ckpt")
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e")], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    out = jaccard_pairs(docs, pairs, "text", "doc_id", shingle_k=2, checkpoint_dir=ckpt)
    assert out.count() == 1
    assert release_caches(out) == 0  # checkpointed — no persisted stem to free
    found = [f for _, _, fs in os.walk(ckpt) for f in fs]
    assert found, "reliable checkpoint wrote nothing under checkpoint_dir"


def test_near_dedup_consumers_propagate_cache_ownership(spark):
    """ADVICE r17: the four consumers of the confirmed-pairs stem build
    new frames from it, so without ``adopt_caches`` the jaccard set
    stem's persist had no release handle on the returned frame — a
    per-call executor memory leak in long-running sessions. Pin that
    every consumer's result now owns at least one releasable cache
    (pre-fix: release_caches returned 0 for all four)."""
    from etl_hiscox_spark.operators.caching import release_caches
    from etl_hiscox_spark.operators.dedup import (
        keep_best_survivors,
        near_dedup_clusters,
        near_dedup_keep_best,
        near_dedup_minhash,
    )

    docs = _docs(spark)
    quality = F.length("text").cast("long")
    results = [
        near_dedup_minhash(docs, "text", "doc_id", threshold=0.5),
        near_dedup_clusters(docs, "text", "doc_id", threshold=0.5),
        near_dedup_keep_best(docs, "text", "doc_id", quality, threshold=0.5),
        keep_best_survivors(docs, "text", "doc_id", quality, threshold=0.5),
    ]
    for out in results:
        out.count()  # materialize with the stem caches alive
        assert release_caches(out) >= 1  # ownership propagated to the result
        assert release_caches(out) == 0  # idempotent


def test_leakage_safe_split_releases_pair_graph(spark, sf_dir, persisted_rdd_ids):
    """t33 persists the confirmed pair graph for its two consumers; its
    result owns that persist and the jaccard set stem under it, so one
    release leaves no persist behind (eager ``localCheckpoint`` cuts have
    no release handle — see the ``persisted_rdd_ids`` fixture)."""
    from etl_hiscox_spark.operators.caching import release_caches
    from etl_hiscox_spark.queries import all_queries

    before = persisted_rdd_ids()
    out = all_queries()["t33_leakage_safe_split"].fn(spark, sf_dir)
    assert out.collect()
    assert release_caches(out) == 2
    assert persisted_rdd_ids() - before == set()
    assert release_caches(out) == 0


@pytest.mark.parametrize(
    "name",
    [
        "l2_incremental_probe",
        "l2_lsh_compact_probe",
        "l2_lsh_erase_probe",
        "l2_lsh_rebuild_probe",
        "l2_lsh_gen_lifecycle_probe",
        "l2_lsh_collision_rerun_probe",
        "l2_lsh_delta_append_probe",
        "l2_lsh_retired_version_guard_probe",
        "l2_lsh_tombstone_coalesce_probe",
        "l2_lsh_half_retired_repair_probe",
        "l2_stream_index_ingest",
        "l2_ngram_jaccard_pairs",
        "l2_connected_clusters",
    ],
)
def test_pair_queries_release_every_persist(spark, sf_dir, persisted_rdd_ids, name):
    """The declared output of a query derived from a cache-owning
    operator (``probe_minhash_index``, ``jaccard_pairs``) carries those
    caches, so one release after collect leaves no persist behind."""
    from etl_hiscox_spark.operators.caching import release_caches
    from etl_hiscox_spark.queries import all_queries

    before = persisted_rdd_ids()
    out = all_queries()[name].fn(spark, sf_dir)
    out.collect()
    release_caches(out)
    assert persisted_rdd_ids() - before == set()


def test_incremental_probe_banding_recall_margin_pinned(spark):
    """Pin the coupling ADVICE r8 flagged: l2_incremental_probe's oracle
    brute-forces exact Jaccard >= 0.8 while the Spark side only returns
    LSH candidates (24 hashes / 6 bands, r=4). A true pair at j=0.8 has
    only P = 1-(1-0.8^4)^6 ~ 0.96 of sharing a band over a RANDOM hash
    family — the hard-equality driver check is safe only because (a) the
    hash family is fixed and (b) the generator's planted cross-parity
    duplicates sit well above the threshold (measured: min j = 0.90,
    where the random-family miss probability is ~1.7e-3/pair). Two pins:
    the margin (min oracle-qualifying j >= 0.88 — borderline pairs at
    ~0.80-0.85 would make the check effectively probabilistic) and the
    EMPIRICAL determinism — the shipped probe with the pinned hashes must
    recall every oracle-qualifying pair on the exact sf0.01 data the
    driver compares. A future testdata-generator change that adds
    borderline pairs fails HERE with a clear message instead of the
    driver going probabilistically red."""
    import duckdb

    from etl_hiscox_spark.queries import all_queries
    from etl_hiscox_spark.queries.llm import _ORACLE_SHINGLE_N_CTE

    con = duckdb.connect()
    # same canonical shingle/count fragment the four pair-graph oracles
    # embed (import-time tripwire in queries/llm.py) — served here over a
    # view so the test can never drift from the declared pipeline
    con.execute(
        "CREATE VIEW documents AS "
        "SELECT * FROM read_parquet('/root/testdata/sf0.01/documents.parquet')"
    )
    min_j = con.execute(
        "WITH "
        + _ORACLE_SHINGLE_N_CTE
        + r""",
        inter AS (
          SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS i
          FROM grams a JOIN grams b ON a.g = b.g
          WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
          GROUP BY a.doc_id, b.doc_id
        )
        SELECT ia, ib, i / CAST(na.n + nb.n - i AS DOUBLE) AS j
        FROM inter JOIN n na ON ia = na.doc_id JOIN n nb ON ib = nb.doc_id
        WHERE 5 * i >= 4 * (na.n + nb.n - i)
        """
    ).fetchall()
    oracle_pairs = {(ia, ib) for ia, ib, _ in min_j}
    assert oracle_pairs, "generator no longer plants cross-parity near-dups"
    lowest = min(j for _, _, j in min_j)
    assert lowest >= 0.88, (
        f"cross-parity true pair at jaccard={lowest:.4f} < 0.88: the "
        "l2_incremental_probe oracle's hard-equality check is no longer "
        "safely above the 24/6 banding-recall margin — raise num_hashes "
        "or re-plant the generator's duplicates closer together"
    )
    # empirical determinism on the exact data + hash family the driver uses
    got = {
        (r["new_id"], r["dup_of"])
        for r in all_queries()["l2_incremental_probe"].fn(spark, "/root/testdata/sf0.01").collect()
    }
    missed = oracle_pairs - got
    assert not missed, (
        f"pinned hash family misses true pairs {sorted(missed)[:5]} — the "
        "driver's hard-equality check WILL go red; raise num_hashes/bands"
    )


def test_bitstring_block_pairs_exact_recall_vs_bruteforce(spark):
    """Pigeonhole guarantee: for ANY bitstring set, block-bucket pairing
    returns EXACTLY the pairs within max_hamming (recall is a theorem,
    precision is the explicit distance filter). Checked against a driver-
    side brute force on 40 random 24-bit strings, plus length quarantine
    and parameter validation."""
    import numpy as np
    import pytest as _pytest

    from etl_hiscox_spark.operators.dedup import bitstring_block_pairs

    rng = np.random.default_rng(7)
    base = rng.integers(0, 2, size=24)
    rows = []
    for i in range(40):
        b = base.copy()
        flips = rng.choice(24, size=rng.integers(0, 6), replace=False)
        b[flips] ^= 1
        rows.append((i, "".join(map(str, b))))
    rows.append((99, "0" * 10))  # wrong length -> quarantined, never paired
    df = spark.createDataFrame(rows, "doc_id long, bits string")

    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in bitstring_block_pairs(df, "bits", "doc_id", n_bits=24, n_blocks=4, max_hamming=3).collect()
    }
    want = set()
    for i in range(40):
        for j in range(i + 1, 40):
            h = sum(x != y for x, y in zip(rows[i][1], rows[j][1]))
            if h <= 3:
                want.add((i, j, h))
    assert got == want and want  # non-trivial case
    assert not any(99 in (a, b) for a, b, _ in got)

    with _pytest.raises(ValueError, match="pigeonhole"):
        bitstring_block_pairs(df, "bits", "doc_id", n_bits=24, n_blocks=4, max_hamming=4)
    with _pytest.raises(ValueError, match="n_blocks"):
        bitstring_block_pairs(df, "bits", "doc_id", n_bits=3, n_blocks=4)


def test_bitstring_block_pairs_uneven_blocks(spark):
    """n_bits not divisible by n_blocks: blocks split nearly-equal and
    still cover every position — a pair differing only in the LAST bit
    (the short tail block) must still be found."""
    from etl_hiscox_spark.operators.dedup import bitstring_block_pairs

    df = spark.createDataFrame(
        [(1, "1010101"), (2, "1010100")], "doc_id long, bits string"
    )
    got = bitstring_block_pairs(df, "bits", "doc_id", n_bits=7, n_blocks=4, max_hamming=1).collect()
    assert [(r["id_a"], r["id_b"], r["hamming"]) for r in got] == [(1, 2, 1)]


def test_near_dedup_keep_best_prefers_quality_over_min_id(spark):
    """Survivorship policy: the kept member is argmax(quality, tiebreak
    min id) — NOT the component's min id (near_dedup_clusters' rule)."""
    from pyspark.sql import functions as F

    from etl_hiscox_spark.operators.dedup import near_dedup_keep_best

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (1, base),                                     # cluster A, shorter
            (2, base + " lambda mu"),                      # cluster A, LONGEST -> kept
            (3, base + " lambda"),                         # cluster A
            (10, "one two three four five six seven"),     # singleton: no pairs
        ],
        "doc_id long, text string",
    )
    out = near_dedup_keep_best(
        docs, "text", "doc_id", quality=F.length("text").cast("long"), threshold=0.5
    ).collect()
    assert len(out) == 1  # singletons excluded from the cluster report
    r = out[0]
    assert (r["component"], r["kept_id"], r["n_members"]) == (1, 2, 3)
    assert r["best_quality"] == len(base + " lambda mu")


def test_video_frame_dhash_sampling_and_quarantine(spark):
    """video_frame_dhash: one row per sampled frame (every_n honored),
    same dhash rule as image_dhash per frame, undecodable clips
    quarantine to a single NULL row."""
    import numpy as np

    from etl_hiscox_spark.operators.gif import encode_gif
    from etl_hiscox_spark.operators.multimodal import video_frame_dhash

    y, x = np.mgrid[0:16, 0:16]
    f0 = ((y * 7 + x * 13) % 256).astype(np.uint8)
    f1 = ((y * 3 + x * 29 + 5) % 256).astype(np.uint8)
    clip = encode_gif([f0, f1, f0, f1])
    df = spark.createDataFrame(
        [("a", bytearray(clip)), ("bad", bytearray(b"not a gif"))],
        "path string, content binary",
    )
    out = video_frame_dhash(df, every_n=2).collect()
    by_path = {}
    for r in out:
        by_path.setdefault(r["path"], []).append((r["frame_index"], r["dhash"]))
    assert sorted(i for i, _ in by_path["a"]) == [0, 2]  # every 2nd frame
    hashes = dict(by_path["a"])
    assert hashes[0] == hashes[2] and len(hashes[0]) == 64  # identical frames
    assert by_path["bad"] == [(None, None)]


def test_round6_engine_parity_pinned(spark):
    """_round6_engine_parity (the MMR greedy loop's rounding) must agree
    with BOTH engines' ROUND(x, 6) — which round the shortest decimal
    repr HALF_UP, not the exact binary value (0.1234565 stores as
    ...64999 yet rounds UP in Spark and DuckDB alike). Pinned over 20k
    random doubles + the adversarial literals."""
    import duckdb
    import numpy as np
    from pyspark.sql import functions as F

    from etl_hiscox_spark.operators.similarity import _round6_engine_parity

    rng = np.random.default_rng(3)
    xs = [float(x) for x in rng.uniform(-1, 1, 20000)] + [
        0.1234565, 0.1234575, -0.9999995, 5e-7, -5e-7, 1.0000005,
    ]
    con = duckdb.connect()
    duck = [
        r[0]
        for r in con.execute(
            "SELECT round(x, 6) FROM (SELECT UNNEST(?::DOUBLE[]) AS x)", [xs]
        ).fetchall()
    ]
    ours = [_round6_engine_parity(x) for x in xs]
    assert duck == ours
    sdf = spark.createDataFrame([(x,) for x in xs[:2000] + xs[-6:]], "x double")
    got = [r[0] for r in sdf.select(F.round("x", 6)).collect()]
    assert got == [_round6_engine_parity(x) for x in xs[:2000] + xs[-6:]]


def test_mmr_topk_diversifies_and_validates(spark):
    """Behavioral MMR check: a near-duplicate of the rank-1 hit is
    RELEVANT but REDUNDANT — plain cosine top-k ranks it #2, MMR pushes
    it behind a less-similar-but-novel vector. Plus the k<=shortlist
    guard and empty-input path."""
    import numpy as np
    import pytest as _pytest

    from etl_hiscox_spark.operators.similarity import cosine_topk, mmr_topk

    rng = np.random.default_rng(11)
    e1 = np.zeros(16); e1[0] = 1.0
    e2 = np.zeros(16); e2[1] = 1.0
    diag = (e1 + e2) / np.sqrt(2.0)  # id 3: relevant AND novel
    rows = [(1, e1), (2, e1.copy()), (3, diag)] + [
        (10 + i, 0.05 * e1 + rng.standard_normal(16) * (np.arange(16) >= 2))
        for i in range(10)
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows], "vec_id long, embedding array<float>"
    )
    qv = [float(x) for x in e1]
    cos_order = [r["vec_id"] for r in cosine_topk(df, "embedding", "vec_id", qv, k=3).collect()]
    assert cos_order[:2] == [1, 2]  # plain top-k keeps the exact twin at #2
    # diversity-heavy weighting: the exact twin's redundancy (sim=1.0)
    # must push it out of the MMR top ranks entirely
    mmr = mmr_topk(df, "embedding", "vec_id", qv, k=3, shortlist=13, lam=0.3, mu=0.7).collect()
    mmr_order = [r["vec_id"] for r in mmr]
    assert mmr_order[0] == 1  # relevance argmax, min-id tiebreak over the twin
    assert 2 not in mmr_order, f"MMR kept the exact twin in the top 3: {mmr_order}"
    assert [r["mmr_rank"] for r in mmr] == [1, 2, 3]

    with _pytest.raises(ValueError, match="shortlist"):
        mmr_topk(df, "embedding", "vec_id", qv, k=20, shortlist=10)
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert mmr_topk(empty, "embedding", "vec_id", qv, k=3).count() == 0


def test_mmr_topk_generic_id_types(spark):
    """The result schema must carry the CALLER's id type (ADVICE r9):
    string doc ids used to crash on the hardcoded `long` schema +
    int() cast. Same geometry as the long-id test, string ids."""
    import numpy as np

    from etl_hiscox_spark.operators.similarity import mmr_topk

    e1 = np.zeros(8); e1[0] = 1.0
    e2 = np.zeros(8); e2[1] = 1.0
    diag = (e1 + e2) / np.sqrt(2.0)
    df = spark.createDataFrame(
        [("doc-a", [float(x) for x in e1]),
         ("doc-b", [float(x) for x in e1]),
         ("doc-c", [float(x) for x in diag])],
        "doc_id string, embedding array<float>",
    )
    out = mmr_topk(df, "embedding", "doc_id", [float(x) for x in e1],
                   k=2, shortlist=3, lam=0.3, mu=0.7)
    assert dict(out.dtypes)["doc_id"] == "string"
    rows = out.collect()
    # relevance argmax with min-id tiebreak ('doc-a' < 'doc-b'), then the
    # novel diagonal beats the redundant exact twin
    assert [r["doc_id"] for r in rows] == ["doc-a", "doc-c"]
    # empty-input path carries the string schema too
    empty = spark.createDataFrame([], "doc_id string, embedding array<float>")
    eout = mmr_topk(empty, "embedding", "doc_id", [1.0] * 8, k=2)
    assert dict(eout.dtypes)["doc_id"] == "string" and eout.count() == 0


def test_ivf_rebuild_clears_stale_partitions_under_dynamic_mode(spark, tmp_path):
    """A re-build must leave no stale cluster partition (or stale row) a
    probe silently reads. Under the session config
    spark.sql.sources.partitionOverwriteMode=dynamic a plain overwrite
    only replaces partitions present in the new data (ADVICE r9); every
    build stages a FRESH segment and the pointer names only it, so this
    must hold regardless of session config."""
    import numpy as np

    from etl_hiscox_spark.operators.similarity import write_ivf_index

    path = str(tmp_path / "ivf")
    rng = np.random.default_rng(7)
    big = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(4)]) for i in range(60)],
        "vec_id long, embedding array<float>",
    )
    small = spark.createDataFrame(
        [(100 + i, [float(x) for x in rng.standard_normal(4)]) for i in range(8)],
        "vec_id long, embedding array<float>",
    )
    old_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        write_ivf_index(big, path, "embedding", "vec_id", n_clusters=8, max_iter=2)
        # rebuild with a tiny corpus in fewer clusters — every old row and
        # every old cluster partition must be gone
        write_ivf_index(small, path, "embedding", "vec_id", n_clusters=2, max_iter=2)
        back = live_rows(spark, path, _IVF)
        ids = {r["vec_id"] for r in back.select("vec_id").collect()}
        assert ids == {100 + i for i in range(8)}, (
            f"stale rows survived the rebuild: {sorted(ids - set(range(100, 108)))[:5]}"
        )
        clusters = {r["__cluster"] for r in back.select("__cluster").distinct().collect()}
        assert clusters <= {0, 1}, f"stale cluster partitions survived: {clusters}"
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old_mode)


def test_ivf_append_assignment_matches_kmeans_predict(spark, tmp_path):
    """append_to_ivf_index must place new vectors EXACTLY where the
    trained KMeansModel would (nearest centroid, squared Euclidean,
    first index on tie) — drift here silently corrupts probe recall for
    every appended batch. Also: centroids persist inside the index, the
    probe loads them when the caller passes none, and a centroid-less
    index (interrupted write) is rejected loudly."""
    import numpy as np
    import pytest as _pytest
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql import functions as F

    from etl_hiscox_spark.operators.similarity import (
        append_to_ivf_index,
        ivf_probe_topk,
        load_ivf_centroids,
        write_ivf_index,
    )

    rng = np.random.default_rng(5)
    vecs = rng.standard_normal((120, 8)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(120)],
        "vec_id long, embedding array<float>",
    )
    old = df.filter(F.col("vec_id") < 60)
    new = df.filter(F.col("vec_id") >= 60)
    path = str(tmp_path / "ivf")
    centroids = write_ivf_index(old, path, "embedding", "vec_id", n_clusters=4, seed=7)
    assert np.allclose(load_ivf_centroids(spark, path), centroids)

    append_to_ivf_index(new, path, "embedding", "vec_id")
    stored = {
        r["vec_id"]: r["__cluster"]
        for r in live_rows(spark, path, _IVF).filter(F.col("vec_id") >= 60).collect()
    }
    # the model the index was built from, applied to the SAME new vectors
    model = KMeans(k=4, seed=7, featuresCol="__v", predictionCol="__c").fit(
        old.withColumn("__v", array_to_vector(F.transform("embedding", lambda x: x.cast("double"))))
    )
    want = {
        r["vec_id"]: r["__c"]
        for r in model.transform(
            new.withColumn("__v", array_to_vector(F.transform("embedding", lambda x: x.cast("double"))))
        ).collect()
    }
    assert stored == want and len(stored) == 60

    # probe with centroids=None reads index geometry; full probe == exact
    q = [float(x) for x in vecs[0]]
    got = [r["vec_id"] for r in ivf_probe_topk(spark, path, None, "embedding", "vec_id", q, k=5, n_probe=4).collect()]
    from etl_hiscox_spark.operators.similarity import cosine_topk

    want_ids = [r["vec_id"] for r in cosine_topk(df, "embedding", "vec_id", q, k=5).collect()]
    assert got == want_ids

    # interrupted write -> loud rejection
    import shutil

    shutil.rmtree(str(tmp_path / "ivf" / _live_dirs(spark, path)[0] / "_centroids"))
    with _pytest.raises(ValueError, match="no readable centroids"):
        ivf_probe_topk(spark, path, None, "embedding", "vec_id", q, k=5)


def test_ivf_append_rejects_malformed_embeddings(spark, tmp_path):
    """Append must fail LOUDLY on NULL/wrong-dim embeddings — never write
    a __cluster=-1 partition no probe reads (r9 review); the index is
    untouched on rejection."""
    import numpy as np
    import pytest as _pytest
    from pyspark.sql import functions as F  # noqa: F401

    from etl_hiscox_spark.operators.similarity import (
        append_to_ivf_index,
        write_ivf_index,
    )

    rng = np.random.default_rng(9)
    vecs = rng.standard_normal((20, 4)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    path = str(tmp_path / "ivf")
    write_ivf_index(df, path, "embedding", "vec_id", n_clusters=2, seed=1)
    n0 = live_rows(spark, path, _IVF).count()

    bad = spark.createDataFrame(
        [(100, [1.0, 2.0, 3.0, 4.0]), (101, None), (102, [1.0, 2.0])],
        "vec_id long, embedding array<float>",
    )
    with _pytest.raises(ValueError, match="NULL, empty, NaN"):
        append_to_ivf_index(bad, path, "embedding", "vec_id")
    assert live_rows(spark, path, _IVF).count() == n0  # nothing landed


def test_write_ivf_index_explicit_centroids(spark, tmp_path):
    """Explicit-geometry builds (write_ivf_index(centroids=...)) must
    assign exactly like the shared nearest-centroid kernel (numpy argmin
    parity), persist the given centroids verbatim, and reject malformed
    embeddings loudly like the append path."""
    import numpy as np
    import pytest as _pytest

    from etl_hiscox_spark.operators.similarity import (
        load_ivf_centroids,
        write_ivf_index,
    )

    rng = np.random.default_rng(21)
    C = rng.standard_normal((4, 6))
    vecs = rng.standard_normal((40, 6)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    path = str(tmp_path / "ivf")
    out = write_ivf_index(df, path, "embedding", "vec_id", centroids=C)
    assert np.allclose(out, C)
    assert np.allclose(load_ivf_centroids(spark, path), C)
    back = {r["vec_id"]: r["__cluster"] for r in live_rows(spark, path, _IVF).collect()}
    m = np.asarray([[float(x) for x in vecs[i]] for i in range(40)], dtype=np.float64)
    d = (m * m).sum(axis=1, keepdims=True) - 2.0 * (m @ C.T) + (C * C).sum(axis=1)
    expected = d.argmin(axis=1)
    assert back == {i: int(expected[i]) for i in range(40)}

    bad = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, None)], "vec_id long, embedding array<float>"
    )
    with _pytest.raises(ValueError, match="NULL, empty, NaN"):
        write_ivf_index(bad, str(tmp_path / "ivf_bad"), "embedding", "vec_id", centroids=C)


def test_ivf_maintenance_reads_the_centroid_record_once(spark, tmp_path, monkeypatch):
    """Append, compact and erase each decode the centroids AND the
    quantized flag from ONE read of the ``_centroids`` record, through the
    filesystem seam every protocol read goes through."""
    import os

    from etl_hiscox_spark.operators.similarity import (
        append_to_ivf_index,
        compact_ivf_index,
        erase_from_ivf_index,
        write_ivf_index,
    )
    from etl_hiscox_spark.sources import listing

    rng = np.random.default_rng(23)
    C = rng.standard_normal((3, 4))
    df = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(4)]) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    path = str(tmp_path / "ivf")
    write_ivf_index(df.filter("vec_id < 20"), path, "embedding", "vec_id", centroids=C, quantize=True)

    opened = []
    real_fs = listing._resolve_fs

    class CountingFS:
        def __init__(self, fs):
            self._fs = fs

        def open_input_file(self, p):
            opened.append(p)
            return self._fs.open_input_file(p)

        def __getattr__(self, name):
            return getattr(self._fs, name)

    monkeypatch.setattr(
        listing, "_resolve_fs",
        lambda p: (lambda fs_p: (CountingFS(fs_p[0]), fs_p[1]))(real_fs(p)),
    )

    def record_opens(op):
        opened.clear()
        op()
        return [p for p in opened if f"{os.sep}_centroids{os.sep}" in p]

    assert len(record_opens(
        lambda: append_to_ivf_index(df.filter("vec_id >= 20"), path, "embedding", "vec_id")
    )) == 1
    assert len(record_opens(lambda: compact_ivf_index(spark, path))) == 1
    keys = spark.createDataFrame([(3,)], "vec_id long")
    assert len(record_opens(lambda: erase_from_ivf_index(spark, path, keys, "vec_id"))) == 1
    monkeypatch.setattr(listing, "_resolve_fs", real_fs)
    assert live_rows(spark, path, _IVF).filter("vec_id = 3").count() == 0
    assert live_rows(spark, path, _IVF).filter("__codes IS NULL").count() == 0


def test_spark_written_record_directories_decode(spark, tmp_path):
    """A commit record directory Spark wrote (``part-*.parquet`` plus
    ``_SUCCESS`` and ``.crc`` files, several parts) decodes like the one
    object the driver writes, for both index kinds."""
    from etl_hiscox_spark.operators.dedup import _read_index_meta
    from etl_hiscox_spark.operators.similarity import ivf_index_is_quantized, load_ivf_centroids

    seg = str(tmp_path / "gen-000000000000")
    C = np.arange(12, dtype=np.float64).reshape(4, 3) / 7.0
    spark.createDataFrame(
        [(24, 6, 3)], "num_hashes int, num_bands int, shingle_k int"
    ).write.parquet(seg + "/meta")
    spark.createDataFrame(
        [(i, [float(x) for x in c], True) for i, c in enumerate(C)],
        "cluster int, centroid array<double>, quantized boolean",
    ).repartition(2).write.parquet(seg + "/_centroids")

    assert _read_index_meta(spark, seg, resolved=True) == (24, 6, 3)
    np.testing.assert_array_equal(load_ivf_centroids(spark, seg, resolved=True), C)
    assert ivf_index_is_quantized(spark, seg, resolved=True)


def test_compact_ivf_index_defragments_and_preserves_probe(spark, tmp_path):
    """K appends then compact => at most 1 file per cluster partition at
    this scale, _centroids byte-identical, index CONTENT identical, and
    probe results row-for-row identical (VERDICT r9 item 3)."""
    import os

    import numpy as np

    from etl_hiscox_spark.operators.similarity import (
        append_to_ivf_index,
        compact_ivf_index,
        ivf_probe_topk,
        load_ivf_centroids,
        write_ivf_index,
    )

    rng = np.random.default_rng(31)

    def frame(ids):
        return spark.createDataFrame(
            [(i, [float(x) for x in rng.standard_normal(6)]) for i in ids],
            "vec_id long, embedding array<float>",
        )

    path = str(tmp_path / "ivf")
    write_ivf_index(frame(range(40)), path, "embedding", "vec_id", n_clusters=4, max_iter=2)
    for k in range(3):
        append_to_ivf_index(frame(range(100 + 10 * k, 110 + 10 * k)), path, "embedding", "vec_id")

    def files_per_partition():
        out = {}
        for seg in _live_dirs(spark, path):
            for entry in os.listdir(seg):
                if entry.startswith("__cluster="):
                    out[entry] = out.get(entry, 0) + sum(
                        1
                        for root, _, files in os.walk(os.path.join(seg, entry))
                        for f in files
                        if f.endswith(".parquet")
                    )
        return out

    before_files = files_per_partition()
    assert max(before_files.values()) > 1, f"appends did not fragment: {before_files}"
    cent_before = load_ivf_centroids(spark, path)
    content_before = sorted(
        (r["vec_id"], r["__cluster"], tuple(r["embedding"]))
        for r in live_rows(spark, path, _IVF).collect()
    )
    qv = [float(x) for x in rng.standard_normal(6)]
    # 9-dp rounding: the scoring matvec is per-Arrow-batch BLAS, and
    # compaction reshuffles which rows share a batch (file order follows
    # part-file uuids), so the last ulp of a cosine can legitimately move
    # across the rewrite — 1e-9 is far above that noise, far below signal
    probe_before = [
        (r["vec_id"], round(r["cosine_sim"], 9), r["rank"])
        for r in ivf_probe_topk(spark, path, None, "embedding", "vec_id", qv, k=10, n_probe=4).collect()
    ]

    n = compact_ivf_index(spark, path)
    after_files = files_per_partition()
    assert set(after_files) == set(before_files)  # same partitions survive
    assert all(v <= 1 for v in after_files.values()), f"still fragmented: {after_files}"
    assert n == sum(after_files.values())
    assert np.array_equal(load_ivf_centroids(spark, path), cent_before)
    content_after = sorted(
        (r["vec_id"], r["__cluster"], tuple(r["embedding"]))
        for r in live_rows(spark, path, _IVF).collect()
    )
    assert content_after == content_before
    probe_after = [
        (r["vec_id"], round(r["cosine_sim"], 9), r["rank"])
        for r in ivf_probe_topk(spark, path, None, "embedding", "vec_id", qv, k=10, n_probe=4).collect()
    ]
    assert probe_after == probe_before


def test_compact_minhash_index_defragments_and_preserves_probe(spark, tmp_path):
    """Append batches to a minhash index, compact: bucket CONTENT and
    probe results identical, meta (banding params) preserved, file count
    collapses to 1 at this scale (VERDICT r9 item 3)."""
    import os

    from etl_hiscox_spark.operators.dedup import (
        compact_minhash_index,
        probe_minhash_index,
        write_minhash_index,
    )

    docs = _docs(spark)
    path = str(tmp_path / "mh")
    write_minhash_index(docs.filter("doc_id IN (0, 1)"), "text", "doc_id", path)
    write_minhash_index(
        docs.filter("doc_id IN (2, 3)"), "text", "doc_id", path, mode="append"
    )
    write_minhash_index(
        docs.filter("doc_id = 4"), "text", "doc_id", path, mode="append"
    )

    def bucket_files():
        return sum(
            1
            for seg in _live_dirs(spark, path)
            for root, _, files in os.walk(os.path.join(seg, "buckets"))
            for f in files
            if f.endswith(".parquet")
        )

    assert bucket_files() > 1, "appends did not fragment the bucket table"
    content_before = sorted(tuple(r) for r in live_rows(spark, path, _LSH).collect())
    new_batch = docs.filter("doc_id = 5")
    probe_before = sorted(
        (r["new_id"], r["dup_of"])
        for r in probe_minhash_index(new_batch, "text", "doc_id", path).collect()
    )
    assert probe_before, "planted near-dup not found pre-compaction"

    n = compact_minhash_index(spark, path)
    assert n == 1 == bucket_files()
    content_after = sorted(tuple(r) for r in live_rows(spark, path, _LSH).collect())
    assert content_after == content_before
    probe_after = sorted(
        (r["new_id"], r["dup_of"])
        for r in probe_minhash_index(new_batch, "text", "doc_id", path).collect()
    )
    assert probe_after == probe_before


def test_ivf_centroid_drift_detects_planted_drift(spark, tmp_path):
    """The drift diagnostic must (a) reproduce exact numpy-recomputed
    distance stats for both sides and (b) cross the documented 1.25x
    rebuild threshold on a deterministically shifted batch while staying
    under it for a same-distribution batch (VERDICT r9 item 4)."""
    import numpy as np

    from etl_hiscox_spark.operators.similarity import (
        ivf_centroid_drift,
        write_ivf_index,
    )

    rng = np.random.default_rng(41)
    C = rng.standard_normal((4, 6))
    base = rng.standard_normal((60, 6))
    same = rng.standard_normal((30, 6))
    shifted = rng.standard_normal((30, 6)) + 3.5  # planted distribution shift

    def frame(mat, start):
        return spark.createDataFrame(
            [(start + i, [float(x) for x in row]) for i, row in enumerate(mat)],
            "vec_id long, embedding array<float>",
        )

    path = str(tmp_path / "ivf")
    write_ivf_index(frame(base, 0), path, "embedding", "vec_id", centroids=C)

    def expected_stats(mat32):
        m = np.asarray(mat32, dtype=np.float64)
        d = (m * m).sum(axis=1, keepdims=True) - 2.0 * (m @ C.T) + (C * C).sum(axis=1)
        best = np.sqrt(np.clip(d.min(axis=1), 0.0, None))
        from etl_hiscox_spark.operators.similarity import _round6_engine_parity
        r = np.asarray([_round6_engine_parity(x) for x in best])
        return (
            _round6_engine_parity(float(r.mean())),
            _round6_engine_parity(float(np.percentile(r, 50))),
            _round6_engine_parity(float(np.percentile(r, 90))),
        )

    # float32 round-trip: recompute from the values Spark actually stored
    def stored(f):
        return [np.asarray(r["embedding"], dtype=np.float64) for r in f.collect()]

    same_f, shifted_f = frame(same, 100), frame(shifted, 200)
    drift_same = {r["side"]: r for r in ivf_centroid_drift(spark, path, same_f, "embedding").collect()}
    assert drift_same["indexed"]["n_vectors"] == 60
    assert drift_same["batch"]["n_vectors"] == 30
    assert drift_same["indexed"]["n_malformed"] == 0
    assert drift_same["batch"]["n_malformed"] == 0
    exp_idx = expected_stats(stored(frame(base, 0)))
    assert (
        drift_same["indexed"]["mean_dist"],
        drift_same["indexed"]["median_dist"],
        drift_same["indexed"]["p90_dist"],
    ) == exp_idx
    exp_same = expected_stats(stored(same_f))
    assert (
        drift_same["batch"]["mean_dist"],
        drift_same["batch"]["median_dist"],
        drift_same["batch"]["p90_dist"],
    ) == exp_same
    # same-distribution batch: comfortably under the rebuild threshold
    assert drift_same["batch"]["mean_dist"] < 1.25 * drift_same["indexed"]["mean_dist"]

    drift_shift = {r["side"]: r for r in ivf_centroid_drift(spark, path, shifted_f, "embedding").collect()}
    assert drift_shift["batch"]["mean_dist"] > 1.25 * drift_shift["indexed"]["mean_dist"], (
        f"planted +3.5 sigma shift not flagged: batch {drift_shift['batch']['mean_dist']} "
        f"vs indexed {drift_shift['indexed']['mean_dist']}"
    )

    # malformed batch rows are REPORTED, not silently dropped (r10 review:
    # a broken upstream embedder is the most likely real cause of drift)
    broken = spark.createDataFrame(
        [(300, [1.0, 2.0]), (301, None)]
        + [(310 + i, [float(x) for x in same[i]]) for i in range(5)],
        "vec_id long, embedding array<float>",
    )
    drift_bad = {r["side"]: r for r in ivf_centroid_drift(spark, path, broken, "embedding").collect()}
    assert drift_bad["batch"]["n_malformed"] == 2
    assert drift_bad["batch"]["n_vectors"] == 5
    assert drift_bad["indexed"]["n_malformed"] == 0


def test_novelty_hash_stream_equals_string_shingles(spark):
    """VERDICT r9 item 6: t34's declared plan joins on shingle STRINGS
    (keeps the DuckDB oracle exact); production swaps in the 8-byte
    xxhash64 stream (ngram_novelty_scores(use_hashes=True)). The swap is
    only safe if the scores are IDENTICAL — 64-bit collisions are
    ~2^-64 per shingle pair, so full equality at two scales is the
    expectation, not a tolerance. Any planted collision would surface
    here as a row diff and the tolerance would then be documented.
    (Uses the session fixture — a bare get_spark() here once re-tuned
    the shared session's shuffle partitions and broke the AQE skew
    plan gate two files later.)"""
    from etl_hiscox_spark.operators.dedup import ngram_novelty_scores
    from etl_hiscox_spark.registry import load_table

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        docs = load_table(spark, "documents", sf)
        strings = sorted(
            tuple(r)
            for r in ngram_novelty_scores(docs, "text", "doc_id", use_hashes=False).collect()
        )
        hashes = sorted(
            tuple(r)
            for r in ngram_novelty_scores(docs, "text", "doc_id", use_hashes=True).collect()
        )
        assert strings == hashes, f"hash-stream novelty diverged from string path at {sf}"
        assert len(strings) == docs.count()


def test_ivf_recall_pinned_on_clustered_embeddings(spark, tmp_path):
    """VERDICT r9 item 7: the isotropic-Gaussian recall pins are IVF's
    WORST case; the 100 TB claim (llm.py: clustered real corpora get the
    same recall at lower probe fractions) was unpinned. Planted
    mixture-of-Gaussians: 8 well-separated clusters, query inside one —
    probing 3/8 clusters (< n_clusters/2) must recover the exact top-10
    entirely (the query's true neighbors share its mixture component),
    beating the 0.6 isotropic floor at HALF the isotropic probe
    fraction. Deterministic: seeded draws, seeded k-means."""
    import numpy as np

    from etl_hiscox_spark.operators.similarity import (
        cosine_topk,
        ivf_probe_topk,
        write_ivf_index,
    )

    rng = np.random.default_rng(13)
    dim, per = 32, 50
    centers = rng.standard_normal((8, dim)) * 4.0  # well-separated
    rows = []
    for c in range(8):
        pts = centers[c] + 0.25 * rng.standard_normal((per, dim))
        rows += [
            (c * per + i, [float(x) for x in pts[i]]) for i in range(per)
        ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qv = [float(x) for x in centers[3] + 0.25 * rng.standard_normal(dim)]

    exact = {r["vec_id"] for r in cosine_topk(df, "embedding", "vec_id", qv, k=10).collect()}
    path = str(tmp_path / "ivf")
    write_ivf_index(df, path, "embedding", "vec_id", n_clusters=8, seed=42)
    approx = {
        r["vec_id"]
        for r in ivf_probe_topk(
            spark, path, None, "embedding", "vec_id", qv, k=10, n_probe=3
        ).collect()
    }
    recall = len(approx & exact) / len(exact)
    assert recall == 1.0, f"clustered recall@10 {recall} < 1.0 at probe fraction 3/8"
    # every exact neighbor sits in the query's mixture component
    assert all(150 <= v < 200 for v in exact)


def test_erase_from_ivf_index_touches_only_affected_partitions(spark, tmp_path):
    """GDPR erasure inside the IVF layout: erased ids gone, count right,
    UNAFFECTED partition files byte-identical (same paths+sizes —
    erasure cost scales with the erase set's cluster footprint), a
    fully-erased cluster's directory disappears, zero-match erase is a
    no-op returning 0, and _centroids never move."""
    import os

    import numpy as np

    from etl_hiscox_spark.operators.similarity import (
        append_to_ivf_index,
        erase_from_ivf_index,
        ivf_probe_topk,
        load_ivf_centroids,
        write_ivf_index,
    )

    rng = np.random.default_rng(51)
    C = rng.standard_normal((3, 4)) * 4.0
    # cluster membership by construction: ids 0-19 near C0, 20-39 near C1,
    # 40-49 near C2
    rows = []
    for i in range(50):
        c = 0 if i < 20 else (1 if i < 40 else 2)
        rows.append((i, [float(x) for x in C[c] + 0.1 * rng.standard_normal(4)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    path = str(tmp_path / "ivf")
    # one segment per cluster: the build holds cluster 0, two appends
    # bring clusters 1 and 2
    write_ivf_index(df.filter("vec_id < 20"), path, "embedding", "vec_id", centroids=C)
    append_to_ivf_index(df.filter("vec_id >= 20 AND vec_id < 40"), path, "embedding", "vec_id")
    append_to_ivf_index(df.filter("vec_id >= 40"), path, "embedding", "vec_id")

    def listing(cluster):
        found = sorted(
            (os.path.relpath(os.path.join(r, f), path), os.path.getsize(os.path.join(r, f)))
            for seg in _live_dirs(spark, path)
            for r, _, fs in os.walk(os.path.join(seg, f"__cluster={cluster}"))
            for f in fs
            if f.endswith(".parquet")
        )
        return found or None

    l0, l1 = listing(0), listing(1)
    cents = load_ivf_centroids(spark, path)

    # erase 5 ids from cluster 2 plus the WHOLE of nothing else
    keys = spark.createDataFrame([(i,) for i in range(40, 45)], "vec_id long")
    assert erase_from_ivf_index(spark, path, keys, "vec_id") == 5
    assert listing(0) == l0 and listing(1) == l1, "unaffected partitions rewritten"
    back = {r["vec_id"] for r in live_rows(spark, path, _IVF).collect()}
    assert back == set(range(40)) | set(range(45, 50))

    # zero-match erase: no-op
    ghost = spark.createDataFrame([(999,)], "vec_id long")
    assert erase_from_ivf_index(spark, path, ghost, "vec_id") == 0
    assert listing(0) == l0 and listing(1) == l1

    # erase the REST of cluster 2: its directory disappears, probes still work
    keys2 = spark.createDataFrame([(i,) for i in range(45, 50)], "vec_id long")
    assert erase_from_ivf_index(spark, path, keys2, "vec_id") == 5
    assert listing(2) is None, "fully-erased cluster directory should be gone"
    assert np.array_equal(load_ivf_centroids(spark, path), cents)
    qv = [float(x) for x in C[0]]
    got = ivf_probe_topk(spark, path, None, "embedding", "vec_id", qv, k=5, n_probe=3)
    ids = {r["vec_id"] for r in got.collect()}
    assert ids <= set(range(20)) and len(ids) == 5


def test_erase_from_minhash_index_removes_fingerprints(spark, tmp_path):
    """Erased docs stop surfacing as dup_of; bucket-row count contract
    (num_bands per indexed doc); meta (banding params) survives the
    rewrite; zero-match erase is a no-op."""
    import os

    from etl_hiscox_spark.operators.dedup import (
        _read_index_meta,
        erase_from_minhash_index,
        probe_minhash_index,
        write_minhash_index,
    )

    docs = _docs(spark)
    path = str(tmp_path / "mh")
    # index docs 0,1,2 (0 and 1 exact dups; 2 a near dup); probe with 5
    write_minhash_index(
        docs.filter("doc_id IN (0, 1, 2)"), "text", "doc_id", path,
        num_hashes=24, num_bands=6,
    )
    new = docs.filter("doc_id = 5")
    before = {r["dup_of"] for r in probe_minhash_index(new, "text", "doc_id", path).collect()}
    assert 0 in before and 1 in before

    keys = spark.createDataFrame([(1,)], "doc_id long")
    assert erase_from_minhash_index(spark, path, keys, "doc_id") == 6  # num_bands
    assert _read_index_meta(spark, path) == (24, 6, 3)
    after = {r["dup_of"] for r in probe_minhash_index(new, "text", "doc_id", path).collect()}
    assert 1 not in after, "erased doc still surfaces as dup_of"
    assert after == before - {1}
    remaining = live_rows(spark, path, _LSH)
    assert remaining.filter("doc = 1").count() == 0

    ghost = spark.createDataFrame([(42,)], "doc_id long")
    assert erase_from_minhash_index(spark, path, ghost, "doc_id") == 0
    assert _read_index_meta(spark, path) == (24, 6, 3)


def test_ivf_fragmentation_stats_tracks_appends_and_compaction(spark, tmp_path):
    """The compaction trigger must be a queryable fact: file counts rise
    with each append, match the on-disk truth exactly, and collapse to 1
    per partition after compact_ivf_index. Bytes sum to the real sizes."""
    import os

    import numpy as np

    from etl_hiscox_spark.operators.similarity import (
        append_to_ivf_index,
        compact_ivf_index,
        ivf_fragmentation_stats,
        write_ivf_index,
    )

    rng = np.random.default_rng(61)

    def frame(ids):
        return spark.createDataFrame(
            [(i, [float(x) for x in rng.standard_normal(4)]) for i in ids],
            "vec_id long, embedding array<float>",
        )

    path = str(tmp_path / "ivf")
    write_ivf_index(frame(range(30)), path, "embedding", "vec_id", n_clusters=3, max_iter=2)
    append_to_ivf_index(frame(range(100, 120)), path, "embedding", "vec_id")

    def disk_truth():
        files: dict[int, list[str]] = {}
        for seg in _live_dirs(spark, path):
            for entry in os.listdir(seg):
                if not entry.startswith("__cluster="):
                    continue
                c = int(entry.split("=", 1)[1])
                files.setdefault(c, []).extend(
                    os.path.join(r, f)
                    for r, _, fs in os.walk(os.path.join(seg, entry))
                    for f in fs
                    if f.endswith(".parquet")
                )
        return {c: (len(fs), sum(os.path.getsize(f) for f in fs)) for c, fs in files.items()}

    stats = {
        r["cluster"]: (r["n_files"], r["total_bytes"])
        for r in ivf_fragmentation_stats(spark, path).collect()
    }
    assert stats == disk_truth()
    assert max(n for n, _ in stats.values()) > 1, "append did not fragment"

    compact_ivf_index(spark, path)
    stats2 = {
        r["cluster"]: (r["n_files"], r["total_bytes"])
        for r in ivf_fragmentation_stats(spark, path).collect()
    }
    assert stats2 == disk_truth()
    assert all(n == 1 for n, _ in stats2.values())


def test_index_maintenance_accepts_file_scheme_paths(spark, tmp_path):
    """ADVICE r10: an index built and probed on a file://-prefixed path
    must survive the full maintenance lifecycle (compact + erase) — the
    os-level legs strip the scheme, the Spark legs keep it."""
    import os

    from etl_hiscox_spark.operators.dedup import (
        compact_minhash_index,
        erase_from_minhash_index,
        probe_minhash_index,
        write_minhash_index,
    )
    from etl_hiscox_spark.operators.similarity import (
        append_to_ivf_index,
        compact_ivf_index,
        erase_from_ivf_index,
        ivf_probe_topk,
        write_ivf_index,
    )

    docs = _docs(spark)
    mh_path = "file://" + str(tmp_path / "mh")
    write_minhash_index(docs.filter("doc_id IN (0, 1, 2)"), "text", "doc_id", mh_path)
    write_minhash_index(
        docs.filter("doc_id = 4"), "text", "doc_id", mh_path, mode="append"
    )
    assert compact_minhash_index(spark, mh_path) == 1
    keys = spark.createDataFrame([(1,)], "doc_id long")
    assert erase_from_minhash_index(spark, mh_path, keys, "doc_id") == 6
    new = docs.filter("doc_id = 5")
    dups = {r["dup_of"] for r in probe_minhash_index(new, "text", "doc_id", mh_path).collect()}
    assert 0 in dups and 1 not in dups
    assert os.path.isdir(os.path.join(_live_dirs(spark, mh_path)[0], "meta"))

    rng = np.random.default_rng(17)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(4)]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    ivf_path = "file://" + str(tmp_path / "ivf")
    write_ivf_index(
        emb.filter("vec_id < 20"), ivf_path, "embedding", "vec_id",
        n_clusters=3, max_iter=2,
    )
    append_to_ivf_index(emb.filter("vec_id >= 20"), ivf_path, "embedding", "vec_id")
    assert compact_ivf_index(spark, ivf_path) >= 1
    vkeys = spark.createDataFrame([(7,), (23,)], "vec_id long")
    assert erase_from_ivf_index(spark, ivf_path, vkeys, "vec_id") == 2
    qvec = [float(x) for x in rng.standard_normal(4)]
    got = ivf_probe_topk(
        spark, ivf_path, None, "embedding", "vec_id", qvec, k=40, n_probe=3
    )
    ids = {r["vec_id"] for r in got.collect()}
    assert len(ids) == 38 and 7 not in ids and 23 not in ids


def _clustered_frame(spark, rng, centers, ids):
    rows = []
    for i in ids:
        c = centers[i % len(centers)]
        rows.append((i, [float(x) for x in (c + 0.1 * rng.standard_normal(4))]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_rebuild_ivf_index_drops_drift_below_trigger(spark, tmp_path):
    """VERDICT r10 item 1: the drift->rebuild loop closes. A batch from a
    shifted distribution trips the documented 1.25x rebuild trigger
    against the build-time geometry; after rebuild_ivf_index retrains on
    the live corpus (which now contains that batch), the same batch's
    drift drops below the trigger — and the rebuilt index holds exactly
    the same rows (payload preserved, only __cluster labels change). The
    fit reads the live rows in id order, so the same head compacted into
    one segment retrains the same centroids."""
    import numpy as np

    from etl_hiscox_spark.operators.similarity import (
        append_to_ivf_index,
        compact_ivf_index,
        ivf_centroid_drift,
        ivf_probe_topk,
        load_ivf_centroids,
        rebuild_ivf_index,
        write_ivf_index,
    )

    rng = np.random.default_rng(23)
    centers_a = [np.array(v, dtype=float) for v in
                 ([5, 0, 0, 0], [0, 5, 0, 0], [0, 0, 5, 0])]
    centers_b = [np.array(v, dtype=float) for v in
                 ([-5, -5, 0, 0], [0, 0, -5, -5], [-5, 0, 0, -5])]
    path = str(tmp_path / "ivf")
    base = _clustered_frame(spark, rng, centers_a, range(60))
    write_ivf_index(base, path, "embedding", "vec_id", n_clusters=3, max_iter=8)
    batch = _clustered_frame(spark, rng, centers_b, range(100, 140))
    append_to_ivf_index(batch, path, "embedding", "vec_id")

    def drift_ratio():
        rows = {r["side"]: r for r in
                ivf_centroid_drift(spark, path, batch, "embedding").collect()}
        return rows["batch"]["mean_dist"] / rows["indexed"]["mean_dist"]

    # note: post-append the "indexed" side already contains the drifted
    # batch, which PULLS THE BASELINE UP — the ratio is conservative;
    # it still fires because centers_b sit far from every pinned centroid
    assert drift_ratio() > 1.25, "planted shift did not trip the rebuild trigger"

    payload_before = sorted(
        (r["vec_id"], tuple(round(float(x), 6) for x in r["embedding"]))
        for r in live_rows(spark, path, _IVF).select("vec_id", "embedding").collect()
    )
    C = rebuild_ivf_index(spark, path, "embedding", "vec_id", max_iter=8)
    assert C.shape == (3, 4)
    np.testing.assert_allclose(load_ivf_centroids(spark, path), C)
    payload_after = sorted(
        (r["vec_id"], tuple(round(float(x), 6) for x in r["embedding"]))
        for r in live_rows(spark, path, _IVF).select("vec_id", "embedding").collect()
    )
    assert payload_after == payload_before
    assert drift_ratio() <= 1.25, "rebuild did not absorb the drifted batch"

    compacted = str(tmp_path / "ivf_compacted")
    write_ivf_index(base, compacted, "embedding", "vec_id", n_clusters=3, max_iter=8)
    append_to_ivf_index(batch, compacted, "embedding", "vec_id")
    compact_ivf_index(spark, compacted)
    np.testing.assert_allclose(
        rebuild_ivf_index(spark, compacted, "embedding", "vec_id", max_iter=8), C
    )

    # full probe over the rebuilt layout sees every row exactly once
    got = ivf_probe_topk(
        spark, path, None, "embedding", "vec_id",
        [float(x) for x in centers_b[0]], k=100, n_probe=3,
    )
    assert sorted(r["vec_id"] for r in got.collect()) == sorted(
        list(range(60)) + list(range(100, 140))
    )


def test_rebuild_ivf_index_commit_protocol(spark, tmp_path, monkeypatch):
    """A crash while staging leaves the LIVE index untouched and probing
    identically; the crashed stage commits nothing and vacuum reclaims
    it; n_clusters can change across a rebuild."""
    import os

    import numpy as np
    import pytest

    from etl_hiscox_spark.operators import similarity as sim

    rng = np.random.default_rng(29)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(4)]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    path = str(tmp_path / "ivf")
    sim.write_ivf_index(emb, path, "embedding", "vec_id", n_clusters=4, max_iter=2)
    qvec = [float(x) for x in rng.standard_normal(4)]
    before = [
        (r["vec_id"], round(r["cosine_sim"], 9))
        for r in sim.ivf_probe_topk(
            spark, path, None, "embedding", "vec_id", qvec, k=10, n_probe=4
        ).collect()
    ]
    old_centroids = sim.load_ivf_centroids(spark, path)

    real = sim._write_ivf_centroids

    def boom(*a, **k):
        raise RuntimeError("simulated crash before the staged commit record")

    monkeypatch.setattr(sim, "_write_ivf_centroids", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        sim.rebuild_ivf_index(spark, path, "embedding", "vec_id")
    monkeypatch.setattr(sim, "_write_ivf_centroids", real)

    # live index untouched: same geometry, same probe results
    np.testing.assert_allclose(sim.load_ivf_centroids(spark, path), old_centroids)
    after_crash = [
        (r["vec_id"], round(r["cosine_sim"], 9))
        for r in sim.ivf_probe_topk(
            spark, path, None, "embedding", "vec_id", qvec, k=10, n_probe=4
        ).collect()
    ]
    assert after_crash == before
    # the crashed stage committed nothing; vacuum reclaims it
    from etl_hiscox_spark.sources import genlog

    assert [g["operation"] for g in genlog.list_generations(spark, path)] == ["build"]
    assert genlog.vacuum_generations(spark, path, keep_last=1, min_age_seconds=0) == 1

    # rebuild with a DIFFERENT cluster count
    C = sim.rebuild_ivf_index(spark, path, "embedding", "vec_id", n_clusters=6, max_iter=2)
    assert C.shape == (6, 4)
    (live,) = _live_dirs(spark, path)
    parts = {e for e in os.listdir(live) if e.startswith("__cluster=")}
    assert parts and all(int(p.split("=")[1]) in range(6) for p in parts)
    final = sim.ivf_probe_topk(
        spark, path, None, "embedding", "vec_id", qvec, k=40, n_probe=6
    )
    assert final.count() == 40


def test_minhash_fragmentation_stats_tracks_appends_and_compaction(spark, tmp_path):
    """VERDICT r10 item 2: the bucket-table compaction trigger is a
    queryable fact, IVF-style — counts/bytes match the on-disk truth,
    rise with appends, collapse after compact_minhash_index; an
    uncommitted index is rejected loudly."""
    import os

    import pytest

    from etl_hiscox_spark.operators.dedup import (
        compact_minhash_index,
        minhash_fragmentation_stats,
        write_minhash_index,
    )

    docs = _docs(spark)
    path = str(tmp_path / "mh")
    with pytest.raises(ValueError, match="not a GENERATIONAL index root"):
        minhash_fragmentation_stats(spark, path).collect()

    write_minhash_index(docs.filter("doc_id IN (0, 1)"), "text", "doc_id", path)
    write_minhash_index(
        docs.filter("doc_id IN (2, 3)"), "text", "doc_id", path, mode="append"
    )
    write_minhash_index(
        docs.filter("doc_id = 4"), "text", "doc_id", path, mode="append"
    )

    def disk_truth():
        files = [
            os.path.join(r, f)
            for seg in _live_dirs(spark, path)
            for r, _, fs in os.walk(os.path.join(seg, "buckets"))
            for f in fs
            if f.endswith(".parquet")
        ]
        return len(files), sum(os.path.getsize(f) for f in files)

    row = minhash_fragmentation_stats(spark, path).first()
    n, b = disk_truth()
    assert (row["n_files"], row["total_bytes"]) == (n, b)
    assert n > 1, "appends did not fragment"
    assert row["avg_file_bytes"] == b / n

    compact_minhash_index(spark, path)
    row2 = minhash_fragmentation_stats(spark, path).first()
    assert (row2["n_files"], row2["total_bytes"]) == disk_truth()
    assert row2["n_files"] == 1


def test_quantized_ivf_layout_probe_matches_quantized_topk(spark, tmp_path):
    """write_ivf_index(quantize=True) stores __codes/__qscale in the
    cluster partitions; the quantized probe at n_probe=n_clusters returns
    exactly quantized_topk's output over the same corpus (same stage-1
    integer ranking from STORED codes, same exact rerank) — and appended
    batches inherit the quantized layout."""
    import os

    from etl_hiscox_spark.operators.similarity import (
        append_to_ivf_index,
        ivf_probe_topk_quantized,
        quantized_topk,
        write_ivf_index,
    )

    rng = np.random.default_rng(31)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(80)],
        "vec_id long, embedding array<float>",
    )
    path = str(tmp_path / "ivf")
    write_ivf_index(
        emb.filter("vec_id < 50"), path, "embedding", "vec_id",
        n_clusters=4, max_iter=2, quantize=True,
    )
    cols = set(live_rows(spark, path, _IVF).columns)
    assert {"__codes", "__qscale", "__cluster"} <= cols
    # append into the quantized layout: codes must materialize for the batch
    append_to_ivf_index(emb.filter("vec_id >= 50"), path, "embedding", "vec_id")
    appended = live_rows(spark, path, _IVF).filter("vec_id >= 50")
    assert appended.count() == 30
    assert appended.filter(F.col("__codes").isNull()).count() == 0

    qvec = [float(x) for x in rng.standard_normal(8)]
    got = [
        (r["vec_id"], round(r["approx_cos"], 9), round(r["exact_cos"], 9), r["rank"])
        for r in ivf_probe_topk_quantized(
            spark, path, "embedding", "vec_id", qvec, k=10, n_probe=4,
            rerank_factor=3,
        ).collect()
    ]
    want = [
        (r["vec_id"], round(r["approx_cos"], 9), round(r["exact_cos"], 9), r["rank"])
        for r in quantized_topk(
            emb, "embedding", "vec_id", qvec, k=10, rerank_factor=3
        ).collect()
    ]
    assert got == want

    # probing a float-only index with the quantized probe fails loudly
    import pytest

    plain = str(tmp_path / "plain")
    write_ivf_index(
        emb, plain, "embedding", "vec_id", n_clusters=2, max_iter=2
    )
    with pytest.raises(ValueError, match="__codes"):
        ivf_probe_topk_quantized(spark, plain, "embedding", "vec_id", qvec)


def test_quantized_ivf_stage1_scan_prunes_embedding_column(spark, tmp_path):
    """The candidate scan of the quantized probe must read the codes
    column only — ReadSchema without the float embeddings (the 4x IO
    claim), and the cluster IN-filter must land in PartitionFilters."""
    from etl_hiscox_spark.operators.similarity import write_ivf_index

    rng = np.random.default_rng(37)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(60)],
        "vec_id long, embedding array<float>",
    )
    path = str(tmp_path / "ivf")
    write_ivf_index(emb, path, "embedding", "vec_id", n_clusters=4, max_iter=2,
                    quantize=True)
    # the probe's stage-1 frame, reconstructed for explain (the operator
    # collects the shortlist eagerly, so gate the plan on its exact shape)
    idx = live_rows(spark, path, _IVF)
    stage1 = idx.filter(F.col("__cluster").isin([0, 1])).select("vec_id", "__codes")
    plan = stage1._sc is not None and stage1._jdf.queryExecution().executedPlan().toString()
    scan = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert scan, plan
    line = scan[0]
    assert "embedding" not in line.split("ReadSchema:")[-1], line
    assert "__codes" in line.split("ReadSchema:")[-1], line
    assert "PartitionFilters" in line and "__cluster" in line.split("PartitionFilters")[-1], line


def test_quantized_layout_survives_maintenance_lifecycle(spark, tmp_path):
    """The stored-codes layout must survive every maintenance op written
    before it landed: compact and erase rewrite partitions from the live
    rows (codes are data columns), rebuild re-quantizes under the new
    geometry, and the commit record's quantized flag rides into each op's
    new segment — so the codes-only probe stays exact over the
    surviving corpus after compact -> erase -> rebuild."""
    from etl_hiscox_spark.operators.similarity import (
        append_to_ivf_index,
        compact_ivf_index,
        erase_from_ivf_index,
        ivf_index_is_quantized,
        ivf_probe_topk_quantized,
        quantized_topk,
        rebuild_ivf_index,
        write_ivf_index,
    )

    rng = np.random.default_rng(47)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(90)],
        "vec_id long, embedding array<float>",
    )
    path = str(tmp_path / "ivf_q")
    write_ivf_index(
        emb.filter("vec_id < 60"), path, "embedding", "vec_id",
        n_clusters=3, max_iter=2, quantize=True,
    )
    append_to_ivf_index(emb.filter("vec_id >= 60"), path, "embedding", "vec_id")

    def probe_pairs(corpus, qvec):
        got = [
            (r["vec_id"], round(r["approx_cos"], 9), round(r["exact_cos"], 9), r["rank"])
            for r in ivf_probe_topk_quantized(
                spark, path, "embedding", "vec_id", qvec, k=8,
                n_probe=live_rows(spark, path, _IVF).select("__cluster").distinct().count(),
                rerank_factor=3,
            ).collect()
        ]
        want = [
            (r["vec_id"], round(r["approx_cos"], 9), round(r["exact_cos"], 9), r["rank"])
            for r in quantized_topk(
                corpus, "embedding", "vec_id", qvec, k=8, rerank_factor=3
            ).collect()
        ]
        assert got == want

    qvec = [float(x) for x in rng.standard_normal(8)]

    compact_ivf_index(spark, path, target_file_mb=256)
    assert ivf_index_is_quantized(spark, path)
    live = live_rows(spark, path, _IVF)
    assert live.filter(F.col("__codes").isNull()).count() == 0
    probe_pairs(emb, qvec)

    erased = erase_from_ivf_index(
        spark, path, emb.filter("vec_id % 9 = 0").select("vec_id"), "vec_id"
    )
    assert erased > 0
    assert ivf_index_is_quantized(spark, path)
    survivors = emb.filter("vec_id % 9 != 0")
    probe_pairs(survivors, qvec)

    rebuild_ivf_index(spark, path, "embedding", "vec_id", n_clusters=4, max_iter=2)
    assert ivf_index_is_quantized(spark, path)
    rebuilt = live_rows(spark, path, _IVF)
    assert rebuilt.filter(F.col("__codes").isNull()).count() == 0
    probe_pairs(survivors, qvec)


def test_rebuild_minhash_index_rebands_live_index(spark, tmp_path):
    """rebuild_minhash_index (r11): parameter migration by one pointer
    commit — new banding lands atomically, probes/appends validate
    against the NEW meta, and the supplied corpus defines exactly what
    stays indexed (fingerprint refresh)."""
    import os

    import pytest

    from etl_hiscox_spark.operators.dedup import (
        _read_index_meta,
        probe_minhash_index,
        rebuild_minhash_index,
        write_minhash_index,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    corpus = spark.createDataFrame(
        [(0, base), (2, "totally different words entirely here now"),
         (4, "a third unrelated document with its own tokens")],
        "doc_id long, text string",
    )
    probe = spark.createDataFrame(
        [(101, base.replace("kappa", "lambda"))], "doc_id long, text string"
    )
    path = str(tmp_path / "idx")
    write_minhash_index(corpus, "text", "doc_id", path, num_hashes=24, num_bands=6)
    assert {(r["new_id"], r["dup_of"])
            for r in probe_minhash_index(probe, "text", "doc_id", path).collect()
            } == {(101, 0)}

    # re-band: more bands = higher recall; meta migrates atomically
    got = rebuild_minhash_index(
        spark, corpus, "text", "doc_id", path, num_hashes=32, num_bands=8
    )
    assert got == (32, 8, 3)
    assert _read_index_meta(spark, path) == (32, 8, 3)
    # probe reads the NEW banding from the meta and still finds the dup
    assert {(r["new_id"], r["dup_of"])
            for r in probe_minhash_index(probe, "text", "doc_id", path).collect()
            } == {(101, 0)}
    # appends validate against the NEW parameters
    write_minhash_index(
        spark.createDataFrame([(7, "yet another brand new document")],
                              "doc_id long, text string"),
        "text", "doc_id", path, num_hashes=32, num_bands=8, mode="append",
    )
    with pytest.raises(ValueError, match="parameter mismatch"):
        write_minhash_index(
            spark.createDataFrame([(8, "stale parameter append")],
                                  "doc_id long, text string"),
            "text", "doc_id", path, num_hashes=24, num_bands=6, mode="append",
        )

    # None parameters keep the live meta; supplying a REDUCED corpus is
    # the fingerprint refresh — doc 0 leaves the index in the same swap
    rebuild_minhash_index(
        spark, corpus.filter("doc_id != 0"), "text", "doc_id", path
    )
    assert _read_index_meta(spark, path) == (32, 8, 3)
    assert probe_minhash_index(probe, "text", "doc_id", path).count() == 0
    buckets = live_rows(spark, path, _LSH)
    assert buckets.filter("doc = 0").count() == 0
    assert buckets.filter("doc = 7").count() == 0  # exactly df, appends excluded

    # divisibility guard fires before anything is staged
    with pytest.raises(ValueError, match="divisible"):
        rebuild_minhash_index(
            spark, corpus, "text", "doc_id", path, num_hashes=32, num_bands=5
        )
    assert _read_index_meta(spark, path) == (32, 8, 3)


def test_segment_hit_stats_one_action(spark):
    """(total, hits) per segment from the single-action stats pass must
    match per-segment brute force, including zero-hit, fully-hit and
    EMPTY segments (r17: the erase paths' sequential per-segment counts
    were folded into one action)."""
    from pyspark.sql import functions as F

    from etl_hiscox_spark.operators.segindex import _segment_hit_stats

    seg_a = spark.createDataFrame([(1,), (2,), (3,)], "doc long")
    seg_b = spark.createDataFrame([(4,), (5,)], "doc long")   # zero hits
    seg_c = spark.createDataFrame([(6,), (7,)], "doc long")   # fully hit
    seg_d = spark.createDataFrame([], "doc long")             # empty
    keys = F.broadcast(
        spark.createDataFrame([(1,), (6,), (7,), (99,)], "doc long").distinct()
    )
    stats = _segment_hit_stats([seg_a, seg_b, seg_c, seg_d], keys, "doc")
    assert stats == [(3, 1), (2, 0), (2, 2), (0, 0)]


def test_staged_build_observed_gate_leaves_centroidless_stage(spark, tmp_path):
    """A GENERATIONAL build over malformed embeddings must still raise the
    loud malformed error (the r17 observe-merged gate), commit NOTHING,
    and leave any staged debris centroid-less so every reader rejects it."""
    import numpy as np
    import pytest as _pytest

    from etl_hiscox_spark.operators.similarity import write_ivf_index
    from etl_hiscox_spark.sources import genlog

    C = np.eye(4)
    bad = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0, 4.0]), (1, None), (2, [1.0, 2.0])],
        "vec_id long, embedding array<float>",
    )
    path = str(tmp_path / "ivf_gen_bad")
    with _pytest.raises(ValueError, match="NULL, empty, NaN"):
        write_ivf_index(bad, path, "embedding", "vec_id", centroids=C)
    # no pointer committed: the root has no live generation
    assert genlog.latest_pointer_version(spark, genlog.resolve_root(spark, path)) is None
    # staged debris (if any) is centroid-less => loudly rejected by readers
    import os as _os

    for entry in _os.listdir(path) if _os.path.isdir(path) else []:
        if entry.startswith("gen-"):
            assert not _os.path.exists(_os.path.join(path, entry, "_centroids"))


def _jobs_started(spark, fn):
    """``(fn(), number of Spark jobs fn started)``, counted by job group."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_live_rows_schema_starts_no_spark_job(spark, tmp_path):
    """Every read of an index segment pins the schema stored in its footer,
    so resolving ``live_rows(...).schema`` starts no Spark job, for one or
    two LSH segments, two IVF segments, and an IVF head made of the erase
    placeholder plus an append. The pinned schema is the one Spark's
    inference gives, ``__cluster: int`` included."""
    from pyspark.sql import types as T

    from etl_hiscox_spark.operators.dedup import write_minhash_index
    from etl_hiscox_spark.operators.similarity import (
        append_to_ivf_index,
        erase_from_ivf_index,
        write_ivf_index,
    )
    from etl_hiscox_spark.sources.genlog import live_index_paths

    def pinned(root, kind):
        schema, jobs = _jobs_started(spark, lambda: live_rows(spark, root, kind).schema)
        assert jobs == 0, root
        return schema

    docs = _docs(spark)
    lsh = str(tmp_path / "lsh")
    write_minhash_index(docs.filter("doc_id < 3"), "text", "doc_id", lsh)
    inferred = spark.read.parquet(_LSH.data(live_index_paths(spark, lsh)[0])).schema
    assert pinned(lsh, _LSH) == inferred
    write_minhash_index(docs.filter("doc_id >= 3"), "text", "doc_id", lsh, mode="append")
    assert len(live_index_paths(spark, lsh)) == 2
    assert pinned(lsh, _LSH) == inferred

    df, _ = _emb_df(spark, n=40, dim=4)
    batch = df.filter("vec_id < 10").selectExpr("vec_id + 100 AS vec_id", "embedding")
    ivf = str(tmp_path / "ivf")
    write_ivf_index(df, ivf, "embedding", "vec_id", n_clusters=3, max_iter=2)
    append_to_ivf_index(batch, ivf, "embedding", "vec_id")
    segs = live_index_paths(spark, ivf)
    assert len(segs) == 2
    inferred = spark.read.parquet(segs[0]).schema
    assert inferred["__cluster"].dataType == T.IntegerType()
    assert pinned(ivf, _IVF) == inferred

    erase_from_ivf_index(spark, ivf, live_rows(spark, ivf, _IVF).select("vec_id"), "vec_id")
    append_to_ivf_index(batch, ivf, "embedding", "vec_id")
    segs = live_index_paths(spark, ivf)
    assert len(segs) == 2  # [placeholder, append]
    inferred = spark.read.parquet(segs[0]).schema
    assert inferred["__cluster"].dataType == T.IntegerType()
    assert pinned(ivf, _IVF) == inferred
    assert live_rows(spark, ivf, _IVF).count() == 10


def test_compact_ivf_sizing_starts_no_spark_job(spark, tmp_path, monkeypatch):
    """compact_ivf_index sizes each cluster from the driver's listing: no
    Spark job starts before the merge reads the segments."""
    from etl_hiscox_spark.operators import similarity

    df, _ = _emb_df(spark, n=40, dim=4)
    ivf = str(tmp_path / "ivf")
    similarity.write_ivf_index(df, ivf, "embedding", "vec_id", n_clusters=3, max_iter=2)
    similarity.append_to_ivf_index(
        df.filter("vec_id < 10").selectExpr("vec_id + 100 AS vec_id", "embedding"),
        ivf, "embedding", "vec_id",
    )
    tracker = spark.sparkContext.statusTracker()
    seen = []
    real = similarity._read_ivf_segments

    def read_segments(spark_, paths):
        group = spark_.sparkContext.getLocalProperty("spark.jobGroup.id")
        seen.append(len(tracker.getJobIdsForGroup(group)))
        return real(spark_, paths)

    monkeypatch.setattr(similarity, "_read_ivf_segments", read_segments)
    n, jobs = _jobs_started(spark, lambda: similarity.compact_ivf_index(spark, ivf))
    assert n >= 1 and jobs >= 1  # the rewrite itself runs
    assert seen == [0]


def test_ivf_append_refuses_a_batch_whose_columns_differ(spark, tmp_path):
    """Every IVF segment is read pinned to one schema, so an append whose
    columns differ from the index's is refused before staging: a missing
    column would read back NULL, an extra one would vanish."""
    from etl_hiscox_spark.operators.similarity import append_to_ivf_index, write_ivf_index

    df, _ = _emb_df(spark, n=30, dim=4)
    titled = df.withColumn("title", F.concat(F.lit("t"), F.col("vec_id").cast("string")))
    path = str(tmp_path / "ivf")
    write_ivf_index(titled, path, "embedding", "vec_id", n_clusters=2, max_iter=2)
    batch = df.filter("vec_id < 5").selectExpr("vec_id + 100 AS vec_id", "embedding")
    with pytest.raises(ValueError, match=r"missing \['title'\], extra \[\]"):
        append_to_ivf_index(batch, path, "embedding", "vec_id")

    plain = str(tmp_path / "plain")
    write_ivf_index(df, plain, "embedding", "vec_id", n_clusters=2, max_iter=2)
    with pytest.raises(ValueError, match=r"missing \[\], extra \['title'\]"):
        append_to_ivf_index(
            batch.withColumn("title", F.lit("x")), plain, "embedding", "vec_id"
        )
    assert live_rows(spark, path, _IVF).count() == 30  # nothing landed
    assert live_rows(spark, plain, _IVF).count() == 30
    append_to_ivf_index(batch.withColumn("title", F.lit("x")), path, "embedding", "vec_id")
    assert live_rows(spark, path, _IVF).filter("title IS NULL").count() == 0
