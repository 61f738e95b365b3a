"""Generate PLANS.md: physical-plan excerpts of headline queries so the
plan-shape claims (pushdown, broadcast, TakeOrdered, partial aggs, no
Python stages) are inspectable without running anything.

Usage: python scripts/dump_plans.py   (writes PLANS.md at the checkout root)
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from catlas_spark import queries as Q
from catlas_spark.session import get_spark

HEADLINE = [
    ("pricing_summary", "scan-filter-aggregate spine: pushed filter, partial+final HashAggregate"),
    ("filter_range", "predicate pushdown + column pruning into the parquet scan"),
    ("join_revenue_per_nation", "dimension joins broadcast (no sort-merge, no big-side shuffle)"),
    ("grouped_topk", "window top-k: single exchange on the group key"),
    ("orderby_limit_topn", "global top-N via TakeOrderedAndProject (no full sort)"),
    ("semi_join_customers_with_orders", "EXISTS as BroadcastHashJoin LeftSemi"),
    ("dedup_minhash_lsh", "LSH dedup: signature groupBy, band join, hashed-set verify"),
    ("multimodal_decode", "an intentional Python stage: Arrow-batched MapInPandas"),
    ("misra_gries_contract", "custom mergeable sketch: Arrow-batched per-partition MG summaries, tiny merge groupBy"),
    ("interval_bucket_join", "range join rewritten to an equi hash join on exploded time buckets"),
    ("table_profile", "per-column group-aggregate branches unioned: distinct = group counting, no Expand, no raw-row SortAggregate"),
    ("set_containment_join", "bitmap strategy: broadcast per-element member bitmaps, bit_and fold per left id, codegen bit decode (no per-pair aggregation)"),
    ("dedup_cdc_chunks", "content-defined chunking: codegen posexplode, one window per doc, DF groupBy rejoin"),
    ("kmeans_ivf_train", "iterative Lloyd k-means unrolled into one plan: broadcast assignment joins, partial+final mean aggs"),
    ("pagerank_suppliers", "iterative message passing unrolled: per-order collect_set edge build, broadcast rank/degree joins, one groupBy shuffle per sweep (AQE stage cache dedups the repeated edge subtree at runtime)"),
    ("rle_tokens_udtf", "native Spark-4 UDTF stage: ArrowEvalPythonUDTF under a lateral Generate (the third intentional Python-stage form)"),
    ("dedup_semantic", "SemDeDup: broadcast centroid assignment, then ONE grouped Arrow stage (FlatMapGroupsInPandas) per cluster for the pairwise scoring — exchange right-sized to the cluster count; tau compare stays JVM-side"),
    ("exact_quantiles", "exact grouped quantiles: footer-derived bucket ids computed map-side, broadcast covering-cell prune BEFORE the only data shuffle, right-sized per-cell window"),
    ("triangle_count_parts", "degree-oriented triangle counting: pair-count groupBy, orientation filters, wedge hash joins — no global sort, no relabel pass"),
    ("leakage_safe_split", "chunk-linkage + connected components: inverted-index pair build, iterative min-label joins, cluster-keyed split hash"),
    ("fuzzy_name_join", "SymSpell blocking: codegen deletion-variant explode, variant hash self-join, levenshtein verify"),
    ("skyline_pareto", "2-D skyline: range exchange over lex order, per-partition prefix-min windows with broadcast carry-in, no self-join"),
    ("cohort_retention", "cohort matrix: one corpus distinct, per-user window min, matrix-sized groupBy + window (join-free)"),
    ("ann_pq", "product-quantization ADC: map-side struct-min encode, broadcast per-query lookup tables, integer-code equi-join + exact int sum"),
    ("hybrid_search_rrf", "RRF fusion: two k-bounded rank legs (integer-key TakeOrdered + windowed cosine top-k), O(k) full-outer fuse"),
    ("scd2_intervals", "SCD2 build: ONE sorted exchange serves both the lag change-compression and lead closing-edge windows"),
    ("rolling_active_users", "sliding COUNT DISTINCT via bounded contribution explode: two distinct aggregates, no range self-join"),
    ("incremental_agg_view", "materialized-view delta merge: churn-sized delta union + full-outer merge, DECIMAL-exact sums"),
]


def main() -> None:
    spark = get_spark("plans")
    sf = "/root/testdata/sf0.01"
    out = [
        "# PLANS — physical-plan excerpts (generated by scripts/dump_plans.py)",
        "",
        "Formatted `explain()` of headline queries at sf0.01. Regenerate after",
        "plan-affecting changes; regression-asserted in tests/test_physical_plans.py.",
        "",
    ]
    from catlas_spark.caching import lazy_plans

    for name, why in HEADLINE:
        # lazy_plans: operators skip their checkpoint/release so the
        # dumped plan is the real tree, not one Scan ExistingRDD
        with lazy_plans():
            df = Q.queries()[name](spark, sf)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        # keep the tree part (before the numbered-operator detail section)
        tree = plan.split("\n\n")[0]
        out += [f"## {name}", "", f"*{why}*", "", "```", tree.strip(), "```", ""]
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    import sys
    print("wrote PLANS.md", file=sys.stderr)


if __name__ == "__main__":
    main()
