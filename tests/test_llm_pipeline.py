"""End-to-end corpus-prep pipeline test: stage monotonicity, leakage
safety, packing validity — on the real documents table."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from etl_hiscox_spark.operators.caching import release_caches
from etl_hiscox_spark.plans.llm_pipeline import prepare_corpus
from etl_hiscox_spark.registry import load_table


def test_prepare_corpus_end_to_end(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir)
    res = prepare_corpus(
        docs, chunk_size=32, overlap=8, pack_budget=256, split_weights={"train": 0.8, "val": 0.2}
    )
    c = res.stage_counts
    # stages only ever drop documents
    assert c["raw"] >= c["quality_gated"] >= c["repetition_gated"] >= c["exact_deduped"] >= c["near_deduped"]
    assert c["near_deduped"] > 0
    assert c["chunks"] == c["packed_chunks"] > 0  # packing reassigns, never drops

    out = res.chunks
    # every chunk of a doc is in exactly one split (leakage safety)
    leaks = out.groupBy("doc_id").agg(F.countDistinct("split").alias("n")).filter(F.col("n") > 1)
    assert leaks.count() == 0
    # pack ids are split-prefixed and packs respect the token budget
    # (single oversized chunks are impossible here: chunk_size < budget)
    over = (
        out.groupBy("pack_id")
        .agg(F.sum("n_tokens").alias("t"), F.count(F.lit(1)).alias("n"))
        .filter((F.col("t") > 256) & (F.col("n") > 1))
    )
    assert over.count() == 0
    splits = {r.s for r in out.select(F.split_part("pack_id", F.lit("/"), F.lit(1)).alias("s")).distinct().collect()}
    assert splits <= {"train", "val"}


def test_prepare_corpus_no_counts_runs_single_plan(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir).limit(200)
    res = prepare_corpus(docs, count_stages=False, chunk_size=32, overlap=4, pack_budget=512)
    assert res.stage_counts == {}
    assert res.chunks.count() > 0


def test_pipeline_blocklist_and_boilerplate_stages(spark):
    """Opt-in r8 stages: URL blocklist drops matching docs before any
    scoring; boilerplate stripping rewrites text before dedup and drops
    fully-chrome docs. Defaults-off path unchanged (t13 stability)."""
    from etl_hiscox_spark.plans.llm_pipeline import prepare_corpus

    chrome = "accept cookies to continue"
    body = [
        "the quick brown fox jumps over the lazy dog near the river bank today",
        "databases shuffle sort join aggregate filter project scan columns rows",
        "mountains rise over valleys while rivers flow through ancient stone walls",
        "cooking requires patience skill fresh ingredients and a little luck always",
        "music theory explains harmony rhythm melody and the structure of songs",
        "gardens bloom in spring with tulips roses daffodils and fresh green grass",
    ]
    rows = []
    for i, b in enumerate(body):
        rows.append((i, chrome + "\n" + b, f"https://ok{i}.example.org/p"))
    rows.append((90, chrome, "https://ok90.example.org/p"))        # pure chrome
    rows.append((91, chrome + "\n" + "blocked domain content words here for quality gates",
                 "https://x.ads.com/p"))                           # blocklisted
    docs = spark.createDataFrame(rows, "doc_id long, text string, url string")
    bl = spark.createDataFrame([("ads.com",)], "rule string")

    res = prepare_corpus(
        docs,
        chunk_size=8,
        overlap=2,
        pack_budget=64,
        blocklist=bl,
        url_col="url",
        # Gopher gates also prune the tiny corpus, so the chrome line's
        # document frequency is measured AFTER them — 3 keeps it above
        # threshold for whatever survives
        boilerplate_min_docs=3,
        max_top_ngram_share_pct=100,
    )
    c = res.stage_counts
    assert c["blocklist_gated"] == c["raw"] - 1          # doc 91 dropped first
    assert c["boilerplate_stripped"] <= c["repetition_gated"]
    surviving_ids = {r["doc_id"] for r in res.chunks.select("doc_id").distinct().collect()}
    assert 91 not in surviving_ids and 90 not in surviving_ids
    # chrome line must not appear in any surviving chunk text
    chunk_texts = [r["chunk_text"] for r in res.chunks.collect()]
    assert chunk_texts and all(chrome not in t for t in chunk_texts)


def test_pipeline_blocklist_requires_url_col(spark):
    import pytest

    from etl_hiscox_spark.plans.llm_pipeline import prepare_corpus

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    bl = spark.createDataFrame([("x.com",)], "rule string")
    with pytest.raises(ValueError, match="together"):
        prepare_corpus(docs, blocklist=bl)


def test_pipeline_rejects_corpus_wiping_boilerplate_threshold(spark):
    import pytest

    from etl_hiscox_spark.plans.llm_pipeline import prepare_corpus

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="must be >= 2"):
        prepare_corpus(docs, boilerplate_min_docs=1)


def _plan_nodes(df):
    """Nodes of ``df``'s optimized logical plan; a cached relation is a
    leaf, so its cached subtree is not walked."""
    nodes, stack = [], [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        nodes.append(node)
        children = node.children().iterator()
        while children.hasNext():
            stack.append(children.next())
    return nodes


def test_prepare_corpus_plan_is_linear(spark, sf_dir):
    """Every split is packed in ONE grouped pass (one collect_list
    aggregate, no Python node), and the exact-deduped corpus enters the
    final plan once, as a cached relation — no self-join re-plans the
    gate -> dedup chain."""
    docs = load_table(spark, "documents", sf_dir).limit(200)
    res = prepare_corpus(docs, count_stages=False, chunk_size=32, overlap=4, pack_budget=512)
    nodes = _plan_nodes(res.chunks)
    names = [n.nodeName() for n in nodes]
    packs = [n for n in nodes if n.nodeName() == "Aggregate" and "collect_list(__item" in str(n)]
    assert len(packs) == 1
    assert "FlatMapGroupsInPandas" not in names
    assert "Union" not in names
    exact_stems = [
        n
        for n in nodes
        if n.nodeName() == "InMemoryRelation" and list(n.schema().fieldNames()) == docs.columns
    ]
    assert len(exact_stems) == 1
    release_caches(res.chunks)


def test_prepare_corpus_repeated_ids_never_duplicate_chunks(spark, sf_dir):
    """Two different documents under one id: each of their chunks comes
    out exactly once. (Labelling the split by a self-join on the id, or
    joining packs back by chunk id, emitted each chunk once per copy.)"""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text").limit(200)
    kept = prepare_corpus(docs, count_stages=False, chunk_size=32, overlap=4, pack_budget=512)
    a, b = sorted({r.doc_id for r in kept.chunks.select("doc_id").distinct().collect()})[:2]
    release_caches(kept.chunks)
    text_b = docs.filter(F.col("doc_id") == b).first().text
    # b's words in reverse order: same gate statistics, different shingles
    twin = spark.createDataFrame([(a, " ".join(reversed(text_b.split())))], docs.schema)

    res = prepare_corpus(
        docs.unionByName(twin), count_stages=False, chunk_size=32, overlap=4, pack_budget=512
    )
    rows = res.chunks.collect()
    release_caches(res.chunks)
    per_chunk = Counter((r.doc_id, r.chunk_idx, r.chunk_text) for r in rows)
    assert max(per_chunk.values()) == 1
    assert sum(1 for r in rows if r.doc_id == a and r.chunk_idx == 0) == 2  # both docs chunked


def test_prepare_corpus_releases_every_persist(spark, sf_dir, persisted_rdd_ids):
    """``release_caches(res.chunks)`` frees the exact-deduped stem and the
    near-dedup set stem; a second call frees nothing. The LSH-candidate
    ``localCheckpoint`` is a lineage cut, not a persist, so the leak
    check leaves it out (see the ``persisted_rdd_ids`` fixture)."""
    docs = load_table(spark, "documents", sf_dir).limit(200)
    before = persisted_rdd_ids()
    res = prepare_corpus(docs, count_stages=False, chunk_size=32, overlap=4, pack_budget=512)
    assert res.chunks.count() > 0
    assert release_caches(res.chunks) == 2
    assert persisted_rdd_ids() - before == set()
    assert release_caches(res.chunks) == 0


def test_t13_query_releases_corpus_caches(spark, sf_dir, persisted_rdd_ids):
    from etl_hiscox_spark.queries import all_queries

    before = persisted_rdd_ids()
    out = all_queries()["t13_corpus_prep_pipeline"].fn(spark, sf_dir)
    assert out.collect()
    assert release_caches(out) == 2
    assert persisted_rdd_ids() - before == set()
    assert release_caches(out) == 0
