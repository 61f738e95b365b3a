"""Scale stress harness (not part of the driver gates): amplify sf0.1 to
~10x (6M-row lineitem, 100k docs) in /tmp, run the headline queries, and
exercise a pathological skew case. Catches scale cliffs the tiny bench
cannot (spills, single-hot-key stalls, candidate blowups).

Usage: python scripts/stress.py [factor] [--only name1,name2,...]
(--only restricts the query sweep — used for the 100x runs, where the
quadratic-in-cluster dedup family is intentionally excluded and the
linear operators are the point)
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

from catlas_spark import queries as Q
from catlas_spark.session import get_spark

HEADLINE = [
    "pricing_summary",
    "grouped_topk",
    "group_exists_soft_delete",
    "join_revenue_per_nation",
    "sessionization",
    "dedup_minhash_lsh",
    "dedup_exact",
    "text_quality",
    "tfidf_top_terms",
    "ann_cosine_topk",
    "salted_revenue_agg",
    "interval_bucket_join",
    "dedup_cluster_assign",
    "dedup_cluster_assign_lsh",
    "dedup_cluster_keep_best",
    "table_profile",
    "weighted_sample",
    "dedup_paragraph_chunks",
    "dedup_cdc_chunks",
    "set_containment_join",
    "set_containment_prefix",
    "ntile_quartiles",
    "token_zipf_rank",
    "grouped_reservoir_sample",
    "incremental_dedup_memo",
    "dedup_semantic",
    "misra_gries_contract",
    "boilerplate_ngram_filter",
    "jl_projection",
    "exact_quantiles",
    "pagerank_suppliers",
    "ann_quantized",
    "chunk_documents_overlap",
    "bpe_merge_train",
    "dup_span_coverage",
    "fuzzy_name_join",
    "phrase_search_postings",
    "rle_tokens_udtf",
    "leakage_safe_split",
    "triangle_count_parts",
    "mad_outliers",
    "chi2_residuals",
    "cohort_retention",
    "skyline_pareto",
    "event_transition_matrix",
]


def amplify(spark, src: str, dst: str, factor: int) -> None:
    """Union each table with key-shifted copies (deterministic)."""
    import os

    plans = {
        "lineitem": ("l_orderkey", 10_000_000),
        "orders": ("o_orderkey", 10_000_000),
        "customer": ("c_custkey", 1_000_000),
        "documents": ("doc_id", 1_000_000),
        "embeddings": ("vec_id", 1_000_000),
        "events": ("event_id", 10_000_000),
    }
    for t in ("region", "nation", "supplier", "part"):  # dims stay small
        spark.read.parquet(f"{src}/{t}.parquet").write.mode("overwrite").parquet(
            f"{dst}/{t}.parquet"
        )
    for t, (key, stride) in plans.items():
        if t == "events":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        base = spark.read.parquet(f"{src}/{t}.parquet")
        out = base
        for i in range(1, factor):
            out = out.unionByName(base.withColumn(key, F.col(key) + i * stride))
        out.write.mode("overwrite").parquet(f"{dst}/{t}.parquet")
        print(f"amplified {t}: {out.count()} rows", file=sys.stderr)
    assert os.path.exists(f"{dst}/lineitem.parquet")


def skew_stress(spark) -> float:
    """One key owns 50% of 5M rows; the salted two-phase agg must match
    the plain agg and not stall on the hot reducer."""
    from catlas_spark.partitioning import salted_agg

    n = 5_000_000
    df = spark.range(n).select(
        F.when(F.col("id") % 2 == 0, F.lit(0)).otherwise(F.col("id") % 97).alias("k"),
        (F.col("id") % 1000).cast("double").alias("v"),
    )
    t0 = time.perf_counter()
    plain = {
        r.k: (r.s, r.c)
        for r in df.groupBy("k").agg(F.sum("v").alias("s"), F.count("*").alias("c")).collect()
    }
    t_plain = time.perf_counter() - t0
    t0 = time.perf_counter()
    two = {
        r.k: (r.s, r.c)
        for r in salted_agg(
            df,
            ["k"],
            n_salts=32,
            partial_aggs=[F.sum("v").alias("ps"), F.count("*").alias("pc")],
            final_aggs=[F.sum("ps").alias("s"), F.sum("pc").alias("c")],
        ).collect()
    }
    t_salted = time.perf_counter() - t0
    # FULL tuples (r8 review): comparing only counts let a value-path
    # regression in the salted two-phase composition pass the stress
    # harness silently — the 5M-row hot-key path the sf0.01 oracle
    # cannot exercise
    assert two == plain
    print(f"skew: plain={t_plain:.2f}s salted={t_salted:.2f}s", file=sys.stderr)
    return t_salted


def main() -> None:
    only = None
    positional = []
    argv = sys.argv[1:]
    i = 0
    while i < len(argv):
        a = argv[i]
        if a == "--only":
            if i + 1 >= len(argv):
                raise SystemExit("--only requires a comma-separated query list")
            only = set(argv[i + 1].split(","))
            i += 2
        elif a.startswith("--only="):
            only = set(a.split("=", 1)[1].split(","))
            i += 1
        else:
            positional.append(a)
            i += 1
    if positional and not positional[0].isdigit():
        raise SystemExit(f"unrecognized argument: {positional[0]}")
    factor = int(positional[0]) if positional else 10
    spark = get_spark("stress")
    dst = tempfile.mkdtemp(prefix="sfbig_")
    print(f"amplifying sf0.1 x{factor} -> {dst}", file=sys.stderr)
    amplify(spark, "/root/testdata/sf0.1", dst, factor)
    def semantic_dedup_scaled(spark, sf_dir):
        # the registry query pins k=8 for its fixed oracle; at scale
        # SemDeDup's discipline is k ∝ corpus (bounded cluster size ~250),
        # keeping within-cluster pairwise work linear overall — the fixed-k
        # form measured 120 s at 10x (25M pairs), the scaled form stays
        # in the per-cluster budget
        from catlas_spark.operators.similarity import semantic_dedup

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        k = max(8, emb.count() // 250)
        return semantic_dedup(emb, k=k, tau=0.38)

    def kmeans_scaled(spark, sf_dir):
        # same k ∝ corpus discipline for the trainer (registry pins k=8
        # for its fixed oracle): the shared Arrow-assignment dispatch's
        # second consumer, covered at the scale that found the
        # dedup_semantic cliff
        from catlas_spark.operators.similarity import kmeans_lloyd

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        k = max(8, emb.count() // 250)
        return kmeans_lloyd(emb, k=k, iters=2)

    overrides = {
        "dedup_semantic": semantic_dedup_scaled,
        "kmeans_ivf_train": kmeans_scaled,
    }
    timings = {}
    # override-bearing names join the default sweep even when absent
    # from HEADLINE (r8 review: the kmeans_ivf_train scaled override was
    # dead code in a default run — the shared assignment dispatch's
    # second consumer was silently skipped)
    sweep = HEADLINE + [n for n in overrides if n not in HEADLINE]
    names = [n for n in sweep if only is None or n in only]
    if only:
        # an explicitly requested registry query that is not in HEADLINE
        # runs too (unknown names error instead of silently vanishing)
        extra = sorted(only - set(sweep))
        unknown = [n for n in extra if n not in Q.queries()]
        if unknown:
            raise SystemExit(f"unknown queries: {', '.join(unknown)}")
        names += extra
    for name in names:
        fn = overrides.get(name, Q.queries()[name])
        t0 = time.perf_counter()
        fn(spark, dst).write.format("noop").mode("overwrite").save()
        timings[name] = round(time.perf_counter() - t0, 2)
        print(f"{name}: {timings[name]}s", file=sys.stderr)
    skew_stress(spark)
    import json

    print(json.dumps({"factor": factor, "timings": timings}))


if __name__ == "__main__":
    main()
