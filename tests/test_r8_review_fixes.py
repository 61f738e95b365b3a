"""Regression tests for the r8 relational/partitioning/sketches review
findings — each pins a silent-wrong-answer or crash path the oracle
gates' NULL-free testdata never exercises."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_grouped_quantiles_ignore_null_values(spark):
    """NULL values must be ignored (percentile semantics): [NULL,1,2,3]
    has median 2.0, not the 1.5 that rank-counting the NULL row gave;
    an all-NULL group emits no rows instead of crashing extremes."""
    from catlas_spark.partitioning import grouped_exact_quantiles

    rows = (
        [("a", None), ("a", 1.0), ("a", 2.0), ("a", 3.0)]
        + [("b", 10.0), ("b", 20.0)]
        + [("c", None), ("c", None)]  # all-NULL group
    )
    df = spark.createDataFrame(rows, "g string, v double")
    got = {
        (r.g, r.prob): r.quantile
        for r in grouped_exact_quantiles(df, "g", "v", [0.5], extremes=True, direct_max_bytes=0
        ).collect()
    }
    oracle = {
        (r.g, 0.5): r.q
        for r in df.groupBy("g")
        .agg(F.expr("percentile(v, 0.5)").alias("q"))
        .filter(F.col("q").isNotNull())
        .collect()
    }
    assert got == oracle  # {('a',0.5): 2.0, ('b',0.5): 15.0}; no 'c'
    assert ("c", 0.5) not in got


def test_ranked_by_range_null_prefix_running_sum(spark):
    """A sort range whose leading values are all NULL must carry the
    prior partitions' running sum through (single-reducer window
    parity), and rows before ANY non-null value get NULL, not 0."""
    from catlas_spark.partitioning import ranked_by_range

    # sort by k: NULL v's land in the HIGH key range (second partition)
    rows = [(1, 5.0), (2, 7.0), (3, None), (4, None), (5, 1.0)]
    df = spark.createDataFrame(rows, "k long, v double")
    ranked, totals = ranked_by_range(df, ["k"], cum_cols=("v",), num_partitions=2)
    got = {r.k: r.cum_v for r in ranked.collect()}
    # single-reducer oracle: cumulative F.sum over ORDER BY k
    from pyspark.sql import Window

    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    oracle = {r.k: r.c for r in df.select("k", F.sum("v").over(w).alias("c")).collect()}
    assert got == oracle  # {1:5.0, 2:12.0, 3:12.0, 4:12.0, 5:13.0}
    assert totals["sum_v"] == 13.0

    # rows before any non-null anywhere: NULL, matching the global sum
    rows2 = [(1, None), (2, None), (3, 4.0), (4, 2.0)]
    df2 = spark.createDataFrame(rows2, "k long, v double")
    ranked2, _ = ranked_by_range(df2, ["k"], cum_cols=("v",), num_partitions=2)
    got2 = {r.k: r.cum_v for r in ranked2.collect()}
    oracle2 = {r.k: r.c for r in df2.select("k", F.sum("v").over(w).alias("c")).collect()}
    assert got2 == oracle2  # {1: None, 2: None, 3: 4.0, 4: 6.0}


def test_point_in_interval_join_empty_and_inverted_intervals(spark):
    """Zero-length (start == end, exclusive end) and inverted intervals
    match nothing instead of killing the job with an illegal-sequence
    runtime error; left joins still emit unmatched points."""
    import datetime as dt

    from catlas_spark.operators.relational import point_in_interval_join

    t = dt.datetime(2024, 1, 1, 10, 0, 0)
    pts = spark.createDataFrame([(1, t)], "pid long, p timestamp")
    ivs = spark.createDataFrame(
        [
            (10, t, t),  # zero-length, exactly on a bucket boundary
            (11, t + dt.timedelta(hours=1), t),  # inverted (dirty data)
            (12, t, t + dt.timedelta(hours=1)),  # real: contains p
        ],
        "iid long, s timestamp, e timestamp",
    )
    inner = point_in_interval_join(pts, ivs, "p", "s", "e").select("pid", "iid")
    assert [(r.pid, r.iid) for r in inner.collect()] == [(1, 12)]
    left = point_in_interval_join(
        pts, ivs.filter(F.col("iid") != 12), "p", "s", "e", how="left"
    )
    [r] = left.collect()
    assert r.pid == 1 and r.iid is None  # unmatched point survives


def test_salted_join_rejects_dim_replicating_outer(spark):
    """right/full outer through the replicated dim side would duplicate
    unmatched dim rows n_salts times — refused loudly."""
    import pytest

    from catlas_spark.partitioning import salted_join

    fact = spark.createDataFrame([(1, 10.0)], "k long, v double")
    dim = spark.createDataFrame([(1, "x"), (2, "y")], "k2 long, name string")
    with pytest.raises(ValueError, match="salted_join supports"):
        salted_join(fact, dim, "k", "k2", n_salts=4, how="full")
    # inner parity on the same inputs
    got = salted_join(fact, dim, "k", "k2", n_salts=4).select("k", "name").collect()
    assert [(r.k, r.name) for r in got] == [(1, "x")]


def test_misra_gries_reports_null_heavy_hitter(spark):
    """A NULL share far above N/(k+1) must appear in the summary (pandas
    value_counts dropped it silently before r8)."""
    from catlas_spark.operators.sketches import misra_gries

    rows = [(None,)] * 40 + [(f"v{i}",) for i in range(60)]
    df = spark.createDataFrame(rows, "s string")
    got = {r.s: r.est for r in misra_gries(df, "s", k=15).collect()}
    assert None in got
    # MG guarantee: est <= true count, undercount <= N/(k+1)
    assert 40 - 100 // 16 <= got[None] <= 40


def test_ann_family_survives_zero_norm_and_short_vectors(spark):
    """Under Spark 4's ANSI default (this session's config), a zero-norm
    vector used to DIVIDE_BY_ZERO-abort every cosine path and a short
    vector used to INVALID_ARRAY_INDEX-abort the sign buckets (r8
    review, reproduced live). Zero-norm pairs are NULL sims (ranked
    last); missing components read as negative signs."""
    from catlas_spark.operators.dedup import banded_embedding_pairs
    from catlas_spark.operators.similarity import (
        bucketed_ann,
        cosine_topk,
        quantized_topk,
    )

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.0, 0.0, 0.0, 0.0]),  # zero norm
        (3, [0.9, 0.1, 0.0, 0.0]),
        (4, [1.0, 0.5]),  # short/ragged
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id") == 1)
    top = cosine_topk(emb, q, k=2).collect()
    assert [r.n_id for r in top][0] == 3  # real neighbor outranks NULLs
    bucketed_ann(emb, q, k=2, n_bits=3).collect()  # 2-dim vector, no crash
    quantized_topk(emb, q, k=2).collect()
    # banded pairs over a blocked corpus with a zero-norm member
    blocked = emb.withColumn("label", F.lit("b"))
    banded_embedding_pairs(
        blocked, "embedding", "vec_id", block_col="label", threshold=0.3
    ).collect()


def test_semantic_dedup_64bit_ids(spark):
    """64-bit id spaces (hash-derived ids) used to CAST_OVERFLOW-abort
    centroid seeding under ANSI; cid is long now, regimes still agree."""
    from catlas_spark.operators.similarity import kmeans_lloyd, semantic_dedup

    base = 1 << 40
    rows = [(base + i, [float(i % 5), 1.0, float(i % 3)]) for i in range(12)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(emb, k=3, tau=0.95).collect()
    assert len(out) > 0 and all(r.cluster_id >= base for r in out)
    km = kmeans_lloyd(emb, k=3, iters=2).collect()
    assert {r.cluster_id for r in km} <= {base, base + 1, base + 2}


def test_pq_topk_nonzero_based_ids(spark):
    """pq_topk's codebook is the n_centroids LOWEST-id rows (TakeOrdered)
    — an id space starting above 0 used to silently yield an empty
    result via filter(id < n_centroids)."""
    from catlas_spark.operators.similarity import pq_topk

    rows = [
        (1000 + i, [float((i * 7 + j * 3) % 11) for j in range(8)])
        for i in range(20)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.limit(2)
    got = pq_topk(emb, q, k=3, m=2, subdim=4, n_centroids=4).collect()
    assert len(got) > 0  # silently-empty was the bug


def test_minhash_band_misconfig_and_simhash_bits_guard(spark):
    import pytest

    from catlas_spark.operators.dedup import minhash_lsh_pairs, simhash

    df = spark.createDataFrame([(1, "a b c"), (2, "a b c")], "doc long, text string")
    with pytest.raises(ValueError, match="multiple of band_size"):
        minhash_lsh_pairs(df, "text", "doc", n_perm=12, band_size=8)
    with pytest.raises(ValueError, match="bits"):
        simhash(df, "text", "doc", bits=64)


def test_nuclearity_per_element_subgraph():
    """The reference slices the connectivity matrix to the element's
    atoms BEFORE labeling (catlas/nuclearity.py:77-79): a Cu-Pt-Cu chain
    is two Cu monomers, never a Cu 'dimer' bridged through the Pt atom.
    Pure driver-side check of the batch labeling the Arrow UDF runs."""
    import pyarrow as pa

    from catlas_spark.operators.structure import nuclearity_batch

    # Cu at nodes 1 and 3 — off the surrogate's periodic-boundary nodes
    # (i%4==0 / i%4==2), so the replica adds no Cu-Cu wrap bonds and the
    # verdict isolates the induced-subgraph semantics; second row: a
    # same-element chain is still one cluster of 3
    out, out2 = (
        dict(m)
        for m in nuclearity_batch(
            pa.array([["Pt", "Cu", "Pt", "Cu", "Pt"], ["Cu", "Cu", "Cu"]]),
            pa.array([[[0, 1], [1, 2], [2, 3], [3, 4]], [[0, 1], [1, 2]]]),
        ).to_pylist()
    )
    assert out["Cu"]["nuclearities"] == [1, 1]  # full-graph labeling said [2]
    assert out["Cu"]["nuclearity"] == "1"
    assert out2["Cu"]["nuclearities"] == [3]


def test_required_elements_filter_tolerates_duplicates(spark):
    """A duplicated element in the config's required list must not make
    the filter unsatisfiable (array_intersect dedups; the old size test
    silently matched zero rows)."""
    from catlas_spark.operators.filters import BULK_FILTERS

    df = spark.createDataFrame(
        [(1, ["Cu", "Pt"]), (2, ["Pt", "Ni"])], "bulk_id long, bulk_elements array<string>"
    )
    fn = BULK_FILTERS["filter_by_required_elements"]
    got = {r.bulk_id for r in fn(df, ["Cu", "Cu"], {}).collect()}
    assert got == {1}


def test_pourbaix_empty_conditions_is_loud(spark):
    import pytest

    from catlas_spark.operators.filters import BULK_FILTERS

    df = spark.createDataFrame([(1,)], "bulk_id long")
    pb = spark.createDataFrame(
        [(1, 7.0, 0.0, 0.1)], "bulk_id long, pH double, V double, decomp_e double"
    )
    fn = BULK_FILTERS["filter_by_pourbaix_stability"]
    with pytest.raises(ValueError, match="conditions"):
        fn(df, {"conditions": []}, {"pourbaix": pb})
