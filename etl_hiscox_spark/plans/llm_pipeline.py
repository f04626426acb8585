"""End-to-end LLM training-corpus preparation pipeline.

Composes the §2.11 operators into the canonical corpus-prep flow:

    raw docs → [opt] URL blocklist (suffix equi-join — cheapest gate first)
             → quality gates (Gopher/C4) → repetition filter
             → [opt] C4 boilerplate-line removal (corpus-frequency lines
               dropped BEFORE dedup, so shared chrome can't mask real
               near-duplicate bodies or create false ones)
             → exact dedup (persisted) → MinHash near-dedup
             → [opt] span-level dedup (RefinedWeb repeated-block removal)
             → [opt] LM-NLL gate (CCNet-style bigram perplexity filter)
             → chunk (overlapping token windows)
             → train/val/test label per chunk (leakage-safe, by SOURCE doc)
             → token-budget shard packing (all splits, one grouped pass,
               a Catalyst fold — no Python worker)

Every stage is one of the individually-tested operators; this module owns
only the composition and the stage-count report. Ordering rationale (the
order IS the optimization at 100 TB):

- Cheap per-row gates run FIRST (zero-shuffle scans) so the shuffling
  stages see only surviving rows.
- Exact dedup (one uniform-hash shuffle) runs before MinHash (the most
  expensive stage) — byte-identical copies never reach signature work.
- Chunking runs AFTER dedup: duplicated docs would otherwise fan out into
  duplicated chunks, multiplying downstream cost.

Each stage's frame enters the plan once, so Catalyst never analyses a
second copy of the gate → dedup chain:

- The exact-deduped corpus is read three times by near-dedup (the eager
  LSH-candidate checkpoint, the candidate-doc semi-join, the final
  anti-join). It is lazily persisted: the candidate checkpoint fills the
  cache and the later branches read the cached relation.
- The split label is computed on the chunks, not joined back from the
  documents: ``hash_split`` is a pure function of the id, so every chunk
  of one document lands in that document's split (no train/test leakage
  through overlap) without a self-join.
- One ``pack_sequences(..., by="split")`` call packs every split: BFD
  runs per (split, hash group), and pack ids carry the split prefix
  (``train/17-0``), the same ids a per-split loop assigns. Chunk rows
  pass through the pack, so no join maps them back to their pack ids.
  The packing is an ``aggregate`` fold over each group's collected rows,
  all Catalyst expressions, so the whole flow starts no Python worker;
  in a cold first pass that worker's start used to be the pipeline's
  slowest job.

Cache ownership: the returned ``chunks`` frame owns the exact-deduped
persist and near-dedup's per-doc shingle-set persist. The caller
materializes it, then frees both with ``caching.release_caches(chunks)``;
a query built on it adopts them onto its own result.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_hiscox_spark.operators.caching import adopt_caches, attach_owned_caches
from etl_hiscox_spark.operators.chunking import chunk_documents
from etl_hiscox_spark.operators.dedup import exact_dedup, near_dedup_minhash
from etl_hiscox_spark.operators.quality_filters import gopher_flags, repetition_stats
from etl_hiscox_spark.operators.lm_score import self_trained_nll
from etl_hiscox_spark.operators.sampling import hash_split, pack_sequences
from etl_hiscox_spark.operators.span_dedup import span_dedup


@dataclass
class CorpusPrepResult:
    """Final chunk table + per-stage row counts for the run report."""

    chunks: DataFrame  # id_col, chunk_idx, n_tokens, chunk_text, split, pack_id
    stage_counts: dict[str, int]


def prepare_corpus(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_size: int = 128,
    overlap: int = 16,
    pack_budget: int = 2048,
    near_dup_threshold: float = 0.8,
    max_top_ngram_share_pct: int = 30,
    split_weights: dict[str, float] | None = None,
    count_stages: bool = True,
    span_dedup_words: int | None = None,
    lm_nll_cutoff: float | None = None,
    blocklist: DataFrame | None = None,
    url_col: str | None = None,
    boilerplate_min_docs: int | None = None,
) -> CorpusPrepResult:
    """Run the full corpus-prep flow; see module docstring for staging.

    ``count_stages=False`` skips the per-stage counts (each is an extra
    action) — the production setting; counts are for reports and tests.

    Opt-in hygiene stages (all default OFF so the declared t13 output is
    stable):
    - ``blocklist`` + ``url_col``: drop documents whose URL host matches
      a wildcard-domain blocklist rule (suffix equi-join) — runs FIRST,
      it is the cheapest gate and real pipelines never pay quality
      scoring for blocked domains.
    - ``boilerplate_min_docs``: C4 corpus-frequency line removal between
      the gates and dedup — each doc's text is replaced by its
      boilerplate-stripped rebuild, fully-emptied docs drop (their
      content is pure chrome). Runs BEFORE dedup so shared chrome can't
      mask real near-duplicate bodies or manufacture false ones.
    - ``span_dedup_words``: after near-dedup, remove repeated
      ``span_dedup_words``-token blocks corpus-wide (RefinedWeb pass);
      documents whose every span was seen earlier drop out entirely and
      the surviving text is the span-deduped reassembly.
    - ``lm_nll_cutoff``: self-train the bigram LM on the surviving corpus
      and drop documents whose avg negative log-likelihood exceeds the
      cutoff (gibberish/boilerplate tail, CCNet-style).
    """
    if (blocklist is None) != (url_col is None):
        raise ValueError("blocklist and url_col must be provided together")
    if boilerplate_min_docs is not None and boilerplate_min_docs < 2:
        # min_docs <= 1 means "drop every line that occurs in >= 1 doc" —
        # i.e. ALL of them: a silent full-corpus wipe, not a filter
        raise ValueError(
            f"boilerplate_min_docs must be >= 2 (got {boilerplate_min_docs}): "
            "1 would drop every line of every document"
        )
    weights = split_weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    counts: dict[str, int] = {}

    def note(name: str, df: DataFrame) -> DataFrame:
        if count_stages:
            counts[name] = df.count()
        return df

    note("raw", docs)

    # 0. optional URL blocklist — the cheapest gate runs before anything.
    #    blocked_ids, not domain_blocklist_tags: the gate needs only the
    #    matched minority, never the corpus-wide per-host report
    if blocklist is not None:
        from etl_hiscox_spark.operators.quality_filters import blocked_ids

        docs = note(
            "blocklist_gated",
            docs.join(blocked_ids(docs, url_col, id_col, blocklist), id_col, "left_anti"),
        )

    # 1-2. zero-shuffle quality gates, then the (one-shuffle) repetition gate
    flags = gopher_flags(docs, text_col, id_col).filter(F.col("keep")).select(id_col)
    gated = note("quality_gated", docs.join(flags, id_col, "left_semi"))
    rep = repetition_stats(gated, text_col, id_col, ngram=2)
    ok_rep = rep.filter(
        F.lit(100) * F.col("top_ngram_count") <= F.lit(max_top_ngram_share_pct) * F.col("total_ngrams")
    ).select(id_col)
    unrepetitive = note("repetition_gated", gated.join(ok_rep, id_col, "left_semi"))

    # 2b. optional C4 boilerplate-line removal: strip corpus-frequent
    #     lines and carry the rebuilt text into dedup; fully-emptied docs
    #     (kept = 0) are pure chrome and drop here
    if boilerplate_min_docs is not None:
        from etl_hiscox_spark.operators.boilerplate import remove_boilerplate_lines

        rebuilt = remove_boilerplate_lines(
            unrepetitive, text_col, id_col, min_docs=boilerplate_min_docs
        )
        unrepetitive = note(
            "boilerplate_stripped",
            unrepetitive.drop(text_col).join(
                rebuilt.filter(F.col("n_lines_kept") > 0).select(
                    id_col, F.col("text_clean").alias(text_col)
                ),
                id_col,
            ),
        )

    # 3-4. dedup: exact first (cheap, uniform hash), then MinHash near-dup;
    #      near-dedup reads the exact stem three times, so it is persisted
    exact = note("exact_deduped", exact_dedup(unrepetitive, text_col, id_col).persist())
    near = near_dedup_minhash(exact, text_col, id_col, threshold=near_dup_threshold)
    deduped = note("near_deduped", near)

    # 4b. optional span-level dedup: replace text with the span-deduped
    #     reassembly, dropping fully-emptied docs (their content already
    #     exists verbatim earlier in the corpus)
    if span_dedup_words is not None:
        rep = span_dedup(deduped, text_col, id_col, span_words=span_dedup_words)
        deduped = note(
            "span_deduped",
            deduped.drop(text_col).join(
                rep.filter(F.col("deduped_text") != "").select(
                    id_col, F.col("deduped_text").alias(text_col)
                ),
                id_col,
            ),
        )

    # 4c. optional CCNet-style LM gate on the surviving corpus. The gate
    # DROPS the high-NLL tail (anti-join) rather than keeping the scored
    # set: a doc with <2 tokens has no bigrams, hence no score row, and a
    # semi-join on "scored low" would silently discard it even though the
    # model has no evidence against it.
    if lm_nll_cutoff is not None:
        scores = self_trained_nll(deduped, text_col, id_col)
        too_high = scores.filter(F.col("avg_nll") > lm_nll_cutoff).select(
            F.col("doc").alias(id_col)
        )
        deduped = note("lm_gated", deduped.join(too_high, id_col, "left_anti"))

    # 5-6. chunk, then label each chunk with its DOCUMENT's split: the
    #      label is a pure function of the id, so all chunks of one doc land
    #      in one split (no train/test leakage through overlap)
    chunks = note(
        "chunks",
        hash_split(chunk_documents(deduped, text_col, id_col, chunk_size, overlap), id_col, weights),
    )

    # 7. pack every split in one grouped pass (a SQL fold, no Python
    #    worker); pack ids are split-prefixed ("train/17-0") so they never
    #    collide across splits
    out = pack_sequences(
        chunks.withColumn("chunk_key", F.concat_ws("#", id_col, F.col("chunk_idx"))),
        "chunk_key",
        "n_tokens",
        budget=pack_budget,
        by="split",
    ).drop("chunk_key")
    note("packed_chunks", out)
    out = adopt_caches(attach_owned_caches(out, [exact]), near)
    return CorpusPrepResult(chunks=out, stage_counts=counts)
