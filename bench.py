"""Benchmark harness: runs the headline query set and prints ONE JSON line.

Protocol (BASELINE.md): run at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]``; output
``{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}``.

Each query is executed with a count-style action that forces full evaluation
without driver-side collect of the payload.

Median-of-3 protocol (VERDICT r2 item 4): every query runs three times and
reports the per-query MEDIAN; the headline value is the sum of medians.
Single-shot timings made round-over-round deltas unreadable — r2 showed
±2× swings on queries whose code had not changed. Runs interleave by pass
(q1..qN, q1..qN, ...) rather than back-to-back so one transient system
stall cannot inflate all three samples of the same query.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: one per operator family — scan+agg, joins (shuffle +
# broadcast + asof), windows, set ops, dedup/text/similarity when present.
HEADLINE = [
    "a6_grouped_pricing_summary",
    "g1_star_join_revenue",
    "g2_top_unshipped_orders",
    "j1_inner_equijoin",
    "j3_broadcast_dim_join",
    "j6_range_interval_join",
    "j7_asof_join",
    "a8_completeness_profile",
    "w1_dedup_rank",
    "w5_running_total",
    "u2_except_difference",
    "r3_topk_orders",
    "g4_promo_revenue_share",
    # extension tier
    "l1_exact_dedup",
    "l2_minhash_near_dup",
    "l2_ngram_jaccard_pairs",
    "l3_cosine_topk",
    "l3_embedding_near_pairs",
    "l4_text_stats",
    "t4_vocabulary",
    "x3_tumbling_window",
    "x5_session_window",
    "x10_click_purchase_join",
    "g8_large_order_customers",
    "g9_exclusive_late_supplier",
    "t9_chunk_documents",
    "v2_quantize_int8",
    "t8_pack_sequences",
    # round-4 additions (new keys — r3-comparable keys above are unchanged)
    "t14_pii_scrub",
    "t15_decontamination",
    "m2_audio_features",
    "g10_volume_shipping",
    "g11_disjunctive_brackets",
    # round-5 additions
    "a16_hll_distinct_rollup",
    "s12_orc_roundtrip",
    "t16_bigram_lm_nll",
    "t18_span_dedup",
    "t19_nb_language_classifier",
    "t20_tfidf_keywords",
    "g13_top_revenue_supplier",
    # round-6 additions
    "s14_incremental_refresh",
    "g14_custdist",
    "t21_bpe_merges",
    "g15_small_quantity_revenue",
    "w8_gap_fill_daily",
    "a18_approx_quantile_rollup",
    "m3_gif_frame_sample",
    # round-7 additions
    "m4_png_features",
    "t25_token_budget_sample",
    "t26_dsir_weights",
    "t27_boilerplate_lines",
    "t28_domain_quality_gate",
    "t29_gumbel_weighted_topk",
    # round-8 additions
    "m5_jpeg_features",
    "l3_quantized_topk",
    "m6_audio_spectral_peak",
    "t30_domain_blocklist",
    "a19_key_skew_profile",
    "l2_incremental_probe",
    "t31_perplexity_buckets",
    "m7_image_dhash",
    "m8_audio_fingerprint",
    # round-9 additions
    "m9_media_near_dup_pairs",
    "m10_video_frame_near_dup",
    "t32_cluster_keep_best",
    "t33_leakage_safe_split",
    "s18_bucketed_colocated_join",
    "l3_mmr_topk",
    "l3_ivf_append_probe",
    "q8_median_imputation",
    "t34_ngram_novelty_score",
    # round-10 additions: index-maintenance lifecycles, drift diagnostic,
    # survivor frame
    "l3_ivf_compact_probe",
    "l2_lsh_compact_probe",
    "l3_ivf_erase_probe",
    "l2_lsh_erase_probe",
    "l3_ivf_drift_diag",
    "t35_keep_best_survivors",
    # round-11 additions: rebuild lifecycle, txn OPTIMIZE + replay, GDPR
    # composition across all four stores, quantized-layout probe
    "l3_ivf_rebuild_probe",
    "x14_txn_optimize_compaction",
    "s19_gdpr_erase_subject",
    "l3_ivf_quantized_probe",
    "l2_lsh_rebuild_probe",
    # round-12 additions: generation-pointer (object-store) index
    # lifecycles, rebuild crash recovery, multi-writer OCC, bulk
    # frame-based GDPR erasure
    "l2_lsh_gen_lifecycle_probe",
    "l3_ivf_gen_lifecycle_probe",
    "l3_ivf_recover_rebuild_probe",
    "x15_txn_multi_writer_occ",
    "s20_bulk_frame_erase",
    # round-13 additions: checkpointed head resolution, full txn stack on
    # a URI (pyarrow.fs) root, schema-widening append, maintenance
    # collision re-run under the generational default
    "x16_txn_checkpoint_head",
    "x17_txn_object_store_roundtrip",
    "s21_schema_widen_append",
    "l2_lsh_collision_rerun_probe",
    # OCC delta-append lifecycles, streaming index ingest, time travel
    # (declared mid-r13, bank in r14)
    "l2_lsh_delta_append_probe",
    "l3_ivf_delta_append_probe",
    "l2_stream_index_ingest",
    "x18_txn_time_travel",
    # round-14 addition: readable-empty lifecycle (full erase → no-op
    # compact → append recovery; declared mid-r14, banks in r15)
    "l3_ivf_full_erase_recovery_probe",
    # round-15 addition: retention version-reuse guard lifecycle (build →
    # delta append → compact → vacuum behind the floor marker → stale
    # commit at the retired name REFUSED → erase recovers; declared
    # mid-r15, banks in r16)
    "l2_lsh_retired_version_guard_probe",
    # round-16 addition: retired-name tombstone lifecycle (vacuum
    # tombstones trimmed pointers, stale commits refuse naturally, pairs
    # coalesce one cycle later behind the floor guard; declared mid-r16,
    # banks in r17)
    "l2_lsh_tombstone_coalesce_probe",
    # round-17 addition: half-retired repair lifecycle (injected
    # lost-replace residue → no-victim vacuum's repair pass finishes the
    # retire → the repaired pair coalesces through the normal path;
    # declared mid-r17, banks in r18)
    "l2_lsh_half_retired_repair_probe",
]


# Scale-validation subset (VERDICT r4 item 2): run at sf1 (10x rows,
# generated by tools/gen_sf1.py into data/sf1 — git-ignored) when that dir
# exists, to check empirically that no plan grows super-linearly. Kept to
# the most scale-sensitive queries (median-of-3 after a GC barrier) so the
# driver's bench run stays inside its budget; SPARK_GRAFT_BENCH_SF1=0
# disables.
SCALE_SUBSET = [
    "a6_grouped_pricing_summary",
    "g1_star_join_revenue",
    "g8_large_order_customers",
    "g9_exclusive_late_supplier",
    "g10_volume_shipping",
    "j1_inner_equijoin",
    "j7_asof_join",
    "w5_running_total",
    "l1_exact_dedup",
    "l2_minhash_near_dup",
    "l2_ngram_jaccard_pairs",
    "l3_cosine_topk",
    "t9_chunk_documents",
    "t15_decontamination",
    # round-7: line-df join (heavy-hitter keys) and token-window cumsum
    "t27_boilerplate_lines",
    "t26_dsir_weights",
    # round-8: per-file Python codec envelope and suffix-join fan-out
    "m5_jpeg_features",
    "t30_domain_blocklist",
    # round-9 (VERDICT r8 item 7): every sf0.1 top-10 query now has an sf1
    # growth factor — the index round-trip, the double-pipeline refresh,
    # and the two shuffle-heavy trainers joined the subset
    "l2_incremental_probe",
    "s14_incremental_refresh",
    "t19_nb_language_classifier",
    "t21_bpe_merges",
    # round-9 new declarations: block-bucket pairing, frame-hash join,
    # survivorship + leakage compositions, incremental vector ingest
    "m9_media_near_dup_pairs",
    "m10_video_frame_near_dup",
    "t32_cluster_keep_best",
    "t33_leakage_safe_split",
    "l3_ivf_append_probe",
    "t34_ngram_novelty_score",
    # round-10: compaction lifecycles (multi-job but append/rewrite are
    # O(batch)/O(index)), drift's two full-corpus Arrow passes, and the
    # survivor anti-join riding the cluster pipeline
    "l3_ivf_compact_probe",
    "l2_lsh_compact_probe",
    "l3_ivf_erase_probe",
    "l2_lsh_erase_probe",
    "l3_ivf_drift_diag",
    "t35_keep_best_survivors",
    # round-11: full-retrain rebuild (k-means over the live corpus), the
    # multi-store GDPR composition, and the codes-only quantized probe
    "l3_ivf_rebuild_probe",
    "s19_gdpr_erase_subject",
    "l3_ivf_quantized_probe",
    "l2_lsh_rebuild_probe",
    # round-12: pointer-committed lifecycles (same shuffle shapes as
    # their rename-committed twins + pointer IO) and the bulk frame erase
    "l2_lsh_gen_lifecycle_probe",
    "l3_ivf_gen_lifecycle_probe",
    "s20_bulk_frame_erase",
    # round-16: the tombstone-coalesce lifecycle (two vacuums + two
    # refused stale commits over the same index shapes as the other
    # lifecycle probes)
    "l2_lsh_tombstone_coalesce_probe",
    # round-17: the half-retired repair lifecycle (four vacuums, three
    # erases, one injected crash residue over the same index shapes)
    "l2_lsh_half_retired_repair_probe",
]
SF1_DIR = os.environ.get(
    "SPARK_GRAFT_SF1_DIR",
    os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf1"),
)

# Pinned standalone ANCHORS (r15, VERDICT r14 item 2). Three queries
# whose code is deliberately untouched round over round, measured inside
# the SAME process / protocol / pass interleave as everything else.
# Their round-over-round ratios estimate the HOST band (contention,
# thermal/turbo state, page-cache pressure): r14's driver bench ran
# 1.36x its own code's quiet-host time purely from host contention, and
# ONE anchor (s14) could flag that but not quantify it per family.
# tools/band_ratio.py divides every per-query ratio by the anchor band
# (geometric mean of the three anchor ratios) so code movement and host
# movement separate mechanically; SCALING.md's per-round measurement
# notes record the result. Keep these three OUT of any refactor — an
# anchor that changes code stops being an anchor.
ANCHORS = {
    # pure CPU-bound SQL (star join + agg), code unchanged since r3
    "cpu_sql": "g1_star_join_revenue",
    # write-IO lifecycle (build → full rebuild through the pointer
    # protocol), code unchanged since r11
    "write_io": "l2_lsh_rebuild_probe",
    # the double-pipeline incremental refresh, the r11-r14 standalone
    # anchor, code unchanged since r11
    "pipeline_refresh": "s14_incremental_refresh",
}


def main() -> None:
    from etl_hiscox_spark.queries import all_queries
    from etl_hiscox_spark.session import get_spark

    spark = get_spark("bench")
    queries = all_queries()

    # Warm the JVM + parquet footers once so per-query times measure the
    # query, not session startup / codegen compilation.
    sf = SF_DIR
    from etl_hiscox_spark.registry import TESTDATA_TABLES, load_table

    for t in TESTDATA_TABLES:
        load_table(spark, t, sf).count()

    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    present = [n for n in HEADLINE if n in queries]
    samples: dict[str, list[float]] = {n: [] for n in present}
    import gc

    for _ in range(n_runs):
        for name in present:
            # Before each timed run: drop the lazy .persist() blocks the
            # PREVIOUS queries created for intra-query branch reuse
            # (jaccard_pairs' shingle stem, the probe's candidate frame,
            # the skew profile's counts). They are never unpersisted — the
            # caller owns the DataFrame lifetime — and measured as taxing
            # UNRELATED queries by up to 4x once enough accumulated
            # (r8: t31 after l2_incremental_probe). Clearing per query
            # (outside the timed region) isolates every measurement;
            # intra-query reuse is untouched — each run re-persists its
            # own frames. clearCache is a driver-side catalog sweep, ~ms.
            spark.catalog.clearCache()
            t0 = time.time()
            queries[name].fn(spark, sf).count()
            samples[name].append(time.time() - t0)
        # Deeper GC barrier once per pass (a per-query System.gc would add
        # real untimed wall to the driver's bench budget).
        gc.collect()
        spark.sparkContext._jvm.System.gc()
    timings = {n: round(statistics.median(s), 3) for n, s in samples.items()}
    total = round(sum(timings.values()), 3)

    sf_label = os.path.basename(os.path.normpath(sf)).replace("sf", "")
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf_label) if sf_label.replace(".", "").isdigit() else sf_label,
        "protocol": f"median_of_{n_runs}_interleaved",
        # the pinned host-band anchors (see ANCHORS): medians from THIS
        # run, keyed by anchor role — tools/band_ratio.py consumes these
        "anchors": {
            role: {"query": q, "sec": timings[q]}
            for role, q in ANCHORS.items()
            if q in timings
        },
    }

    run_sf1 = os.environ.get("SPARK_GRAFT_BENCH_SF1", "1") != "0"
    if run_sf1 and os.path.isdir(SF1_DIR) and os.path.normpath(sf) != os.path.normpath(SF1_DIR):
        # The sf1 section runs LAST, against a JVM that just executed
        # 3 × |headline| jobs — without a cleanup barrier its numbers
        # measured heap fragmentation, not plans (one run showed a
        # zero-shuffle scan at 14× growth purely from GC pressure).
        # Clear caches, drop lingering localCheckpoint blocks (Python GC
        # releases the RDD handles, JVM GC reclaims the blocks), and use
        # interleaved median-of-3 — the SAME statistic as the sf0.1 base,
        # so growth ratios compare like for like.
        import gc

        spark.catalog.clearCache()
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        scale_present = [n for n in SCALE_SUBSET if n in queries and n in timings]
        # median-of-3 like the sf0.1 base — a min-of-N numerator over a
        # median denominator would bias every growth ratio low (the scale
        # gate could pass a genuinely super-linear query on one lucky run)
        sf1_samples: dict[str, list[float]] = {n: [] for n in scale_present}
        for _ in range(3):
            for name in scale_present:
                t0 = time.time()
                queries[name].fn(spark, SF1_DIR).count()
                sf1_samples[name].append(time.time() - t0)
        sf1_timings = {n: round(statistics.median(s), 3) for n, s in sf1_samples.items()}
        # growth = sf1 time / sf0.1 median; 10x data → ~10 is linear.
        # Sub-second queries stay noisy (fixed job overhead dominates), so
        # the ratio matters on the expensive ones.
        out["sf1"] = {
            "dir": SF1_DIR,
            "queries": sf1_timings,
            "total": round(sum(sf1_timings.values()), 3),
            "growth_vs_base": {
                n: round(sf1_timings[n] / timings[n], 1)
                for n in sf1_timings
                if timings.get(n, 0) > 0
            },
            "protocol": "median_of_3_after_gc_barrier",
        }

    # Emit protocol (VERDICT r5 item 1): the driver parses the FINAL JSON
    # line from a bounded tail capture (~2000 chars). r5's single line grew
    # to 2,265 chars and the driver recorded parsed:null — no bench signal.
    # So: full detail goes to a sidecar file AND an earlier stdout line;
    # the LAST line is a compact summary guaranteed under the tail window.
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json")
    try:
        with open(detail_path, "w") as f:
            json.dump(out, f, indent=2)
    except OSError:
        pass
    print(json.dumps(out))  # full detail, own line (not the parsed line)
    sys.stdout.flush()
    print(compact_line(out, timings))


def compact_line(out: dict, timings: dict, limit: int = 1500) -> str:
    """Build the driver-facing final JSON line, guaranteed <= ``limit`` chars.

    Per-query timings are included only while they fit; past that the line
    carries the 10 slowest instead (full detail lives in BENCH_DETAIL.json
    and the preceding stdout line). The headline `value` is always present.
    """
    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": out["unit"],
        "sf": out["sf"],
        "protocol": out["protocol"],
        "n_queries": len(timings),
        "detail": "BENCH_DETAIL.json",
    }
    if "anchors" in out:
        # host-band anchors ride the compact line too (~70 chars): a
        # contended driver run is then interpretable from the recorded
        # BENCH_r{N}.json alone, without the sidecar
        compact["anchors"] = {
            role: a["sec"] for role, a in out["anchors"].items()
        }
    if "sf1" in out:
        compact["sf1_total"] = out["sf1"]["total"]
    with_queries = dict(compact, queries=timings)
    if len(json.dumps(with_queries)) <= limit - 100:
        compact = with_queries
    else:
        slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:10])
        compact["slowest_queries"] = slowest
    line = json.dumps(compact)
    if len(line) > limit:  # belt-and-braces: never exceed the tail window
        compact.pop("slowest_queries", None)
        compact.pop("queries", None)
        line = json.dumps(compact)
    return line


if __name__ == "__main__":
    main()
