"""Generate PLANS.md: formatted physical plans of the headline queries,
annotated with the scale-relevant properties (pushdown, broadcast, top-k
strategy). Run after plan-affecting changes:

    python tools/plans_report.py > PLANS.md
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SHOWCASE = [
    ("p1_column_projection", "column pruning reaches the scan (ReadSchema)"),
    ("p4_filter_range", "range predicates push into the parquet reader"),
    ("a6_grouped_pricing_summary", "timestamp filter pushdown + partial aggregation"),
    ("g1_star_join_revenue", "5-way star join: agg pushed below join, dims broadcast"),
    ("g9_exclusive_late_supplier", "correlated EXISTS pair rewritten to one Expand-free aggregation"),
    ("t9_chunk_documents", "chunking stays in the scan stage: zero exchanges"),
    ("f16_fuzzy_name_pairs", "sorted-neighborhood band as an equi-join key (no O(n²) same-nation blowup)"),
    ("j6_range_interval_join", "range condition evaluates inside the equi-join"),
    ("j7_asof_join", "as-of join = union + window, no inequality join"),
    ("r3_topk_orders", "global top-k = TakeOrderedAndProject, no full sort"),
    ("w5_running_total", "window partitioned by key (hashpartitioning)"),
    ("l1_exact_dedup", "dedup shuffles on a uniform content hash"),
    ("x3_tumbling_window", "windowed agg with map-side partial aggregation"),
    ("g11_disjunctive_brackets", "OR-of-brackets: common bounds extracted and pushed to both scans"),
    ("g12_sales_opportunity", "scalar threshold as a reusable Subquery; lapsed = LeftAnti with pushed date filter"),
    ("g14_custdist", "Q13: exclusion predicate inside the left-outer join; per-customer count reuses the join partitioning"),
    ("g15_small_quantity_revenue", "Q17: correlated per-part avg decorrelated into an aggregate joined back; brand semi-join first"),
    ("w8_gap_fill_daily", "dense time grid generated in the reduce stage (sequence+explode), ffill window per key"),
    ("a18_approx_quantile_rollup", "GK approx quantiles: O(accuracy) per-group state, map-side mergeable"),
    ("t15_decontamination", "train grams probe a broadcast eval-gram set: no shuffle on the big side"),
    ("t18_span_dedup", "span construction in the scan stage; one window shuffle on the span key"),
    ("t19_nb_language_classifier", "NB inference: broadcast weight join + (doc,label) reduce + rounded argmax"),
    ("t20_tfidf_keywords", "df derived from the tf table; idf broadcast onto tf"),
    ("g13_top_revenue_supplier", "MAX-of-derived-aggregate as a scalar Subquery; quarter filter pushed to both CTE scans"),
    ("f17_golden_record", "survivorship = one max_by agg pass with map-side partials (no window)"),
    ("l3_quantized_topk", "int8 code scan: integer dot/norm folds in the scan stage, TakeOrderedAndProject candidate cut, tiny exact rerank"),
    ("t27_boilerplate_lines", "C4 line removal: one codegen regex line build under both branches, line-df agg + tag join + per-doc rebuild"),
    ("t30_domain_blocklist", "suffix explode rides the scan; broadcast blocklist equi-join; one (id,host) reduce"),
    ("a19_key_skew_profile", "per-key counts map-side combined; 1-row totals broadcast; top-k TakeOrderedAndProject"),
    ("l3_ivf_drift_diag", "drift diagnostic: one ArrowEvalPython per side (asNondeterministic pins single scoring), map-side partial percentile agg, single 2-group exchange"),
    ("t35_keep_best_survivors", "survivor frame: cluster losers anti-joined against one corpus scan; windows over cluster-sized partitions only"),
    ("l3_ivf_gen_lifecycle_probe", "generation-pointer probe: after build→append→compact→erase committed by pointer flips, the physical plan is one partition-pruned scan of the live segment — cluster IN-filter in its PartitionFilters (resolution is metadata, never a plan cost)"),
]


def main() -> None:
    from etl_hiscox_spark.queries import all_queries
    from etl_hiscox_spark.session import get_spark

    spark = get_spark("plans_report", shuffle_partitions=8)
    jvm = spark._jvm
    queries = all_queries()
    sf = "/root/testdata/sf0.01"
    print("# PLANS — physical plans of the headline queries\n")
    print(
        "Generated by `tools/plans_report.py` at sf0.01. These shapes are"
        " locked by `tests/test_plans.py`; read them against SCALING.md.\n"
    )
    for name, note in SHOWCASE:
        df = queries[name].fn(spark, sf)
        plan = df._jdf.queryExecution().explainString(
            jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        # keep the tree + the scan details; drop the verbose node dictionary
        tree = plan.split("\n\n")[0]
        scans = [
            line.strip()
            for line in plan.splitlines()
            if any(k in line for k in ("PushedFilters", "ReadSchema"))
        ]
        print(f"## {name}\n\n*{note}*\n")
        print("```")
        print(tree)
        for s in scans[:6]:
            print(s)
        print("```\n")


if __name__ == "__main__":
    main()
