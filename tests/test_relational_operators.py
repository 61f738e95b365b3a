"""Unit tests for the core grouped/window operators (SURVEY §2.4/§2.8)."""

from __future__ import annotations

from pyspark.sql import functions as F

from catlas_spark.operators.relational import (
    best_within_relative_threshold,
    group_exists_mark,
    grouped_min_argmin,
    grouped_top_proportion,
    grouped_topk,
    soft_delete_gate,
)


def _df(spark):
    rows = [
        ("a", 1, 10.0),
        ("a", 2, 5.0),
        ("a", 3, 5.2),
        ("a", 4, 20.0),
        ("b", 1, 1.0),
        ("b", 2, 100.0),
        ("c", 1, 7.0),
    ]
    return spark.createDataFrame(rows, "grp string, idx int, score double")


def test_grouped_topk(spark):
    out = grouped_topk(_df(spark), ["grp"], [F.col("score"), F.col("idx")], k=2)
    got = {(r.grp, r.idx) for r in out.collect()}
    assert got == {("a", 2), ("a", 3), ("b", 1), ("b", 2), ("c", 1)}


def test_grouped_top_proportion(spark):
    # group a has 4 rows → ceil(0.5*4)=2 kept; b: ceil(1)=1; c: 1
    out = grouped_top_proportion(_df(spark), ["grp"], [F.col("score"), F.col("idx")], 0.5)
    got = {(r.grp, r.idx) for r in out.collect()}
    assert got == {("a", 2), ("a", 3), ("b", 1), ("c", 1)}


def test_best_within_relative_threshold(spark):
    # group a: min=5.0, keep score <= 5.0 + 0.5 → {2, 3}
    out = best_within_relative_threshold(_df(spark), ["grp"], F.col("score"), 0.1)
    got = {(r.grp, r.idx) for r in out.collect()}
    assert got == {("a", 2), ("a", 3), ("b", 1), ("c", 1)}


def test_group_exists_mark_and_gate(spark):
    df = group_exists_mark(_df(spark), ["grp"], F.col("score") > 50, "no big score")
    rows = {(r.grp, r.idx): r.filter_reason for r in df.collect()}
    assert rows[("b", 1)] is None and rows[("b", 2)] is None
    assert all(v == "no big score" for (g, _), v in rows.items() if g in ("a", "c"))
    # second marker must not overwrite the first (reference keeps the
    # FIRST reason a row was soft-deleted, catlas/filters.py:317-324)
    df2 = group_exists_mark(df, ["grp"], F.col("score") > 1e9, "second reason")
    rows2 = {(r.grp, r.idx): r.filter_reason for r in df2.collect()}
    assert rows2[("a", 1)] == "no big score"
    assert rows2[("b", 1)] == "second reason"
    # gate: expensive expr NULL on dead rows
    gated = df.withColumn("out", soft_delete_gate(df, F.col("score") * 2)).collect()
    for r in gated:
        if r.filter_reason is None:
            assert r.out == r.score * 2
        else:
            assert r.out is None


def test_grouped_min_argmin(spark):
    out = grouped_min_argmin(_df(spark), ["grp"], F.col("score"), [F.col("idx")])
    got = {(r.grp, r.idx, r.score) for r in out.collect()}
    assert got == {("a", 2, 5.0), ("b", 1, 1.0), ("c", 1, 7.0)}


def test_ranked_by_range_matches_global_window(spark):
    """Exact global rank + running sum from the range-partitioned plan
    must equal the single-partition window's, on a value-skewed input."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from catlas_spark.partitioning import ranked_by_range

    # zipf-ish skewed values with a unique tiebreak key
    df = spark.range(0, 5000).select(
        (F.floor(F.pow(F.col("id") % 97 + 1, 2.0))).alias("v"), F.col("id").alias("k")
    )
    ranked, totals = ranked_by_range(df, [F.col("v").desc(), "k"], cum_cols=("v",))
    assert totals["count"] == 5000
    assert totals["sum_v"] == df.agg(F.sum("v")).first()[0]
    w = Window.orderBy(F.col("v").desc(), "k")
    truth = df.withColumn("r2", F.row_number().over(w).cast("long")).withColumn(
        "c2", F.sum("v").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    bad = (
        ranked.join(truth, ["v", "k"])
        .filter((F.col("rnk") != F.col("r2")) | (F.col("cum_v") != F.col("c2")))
        .count()
    )
    assert bad == 0


def test_ranked_by_range_partitions_are_size_balanced(spark):
    """B5 (size-balanced repartition, catlas/dask_utils.py:28-66, the
    Spark way): repartitionByRange samples boundaries so partitions are
    count-balanced even when the VALUE distribution is heavily skewed —
    unlike fixed-width value bucketing, which would put ~all rows in one
    bucket for this input."""
    from pyspark.sql import functions as F

    # exponential-ish value skew: half the mass below 4, long tail to 1e9
    df = spark.range(0, 8000).select(
        F.floor(F.pow(F.lit(10.0), (F.col("id") % 1000) / 111.0)).alias("v"),
        F.col("id").alias("k"),
    )
    sizes = [
        r.n
        for r in df.repartitionByRange(8, "v", "k")
        .groupBy(F.spark_partition_id().alias("p"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]
    assert len(sizes) == 8
    mean = sum(sizes) / len(sizes)
    assert max(sizes) <= 2 * mean  # balanced despite the value skew
    assert min(sizes) >= 0.25 * mean


def test_grouped_exact_quantiles_matches_percentile(spark):
    """The distributed exact-quantile plan (value counts + ranged
    offsets + rank interpolation) must equal Spark's single-buffer
    `percentile` on duplicate-heavy data with numeric group keys."""
    from pyspark.sql import functions as F

    from catlas_spark.partitioning import grouped_exact_quantiles

    df = spark.range(0, 9001).select(
        (F.col("id") % 4).alias("g"),
        # heavy duplicates + uneven group sizes
        ((F.col("id") * F.col("id")) % 113).cast("double").alias("v"),
    ).filter((F.col("g") != 3) | (F.col("id") < 50))
    probs = [0.0, 0.25, 0.5, 0.9, 1.0]
    got = {
        (r.g, r.prob): round(r.quantile, 6)
        for r in grouped_exact_quantiles(df, "g", "v", probs, direct_max_bytes=0).collect()
    }
    truth = {}
    for r in df.groupBy("g").agg(
        *[F.percentile("v", F.lit(p)).alias(f"p{i}") for i, p in enumerate(probs)]
    ).collect():
        for i, p in enumerate(probs):
            truth[(r.g, float(p))] = round(r[f"p{i}"], 6)
    assert got == truth

    # the raw-row path (pre_aggregate=False) and the free extremes must
    # agree with the pre-aggregated path and a plain min/max
    raw = grouped_exact_quantiles(df, "g", "v", probs, pre_aggregate=False, extremes=True, direct_max_bytes=0
    ).collect()
    assert {(r.g, r.prob): round(r.quantile, 6) for r in raw} == truth
    mm = {
        r.g: (r.mn, r.mx)
        for r in df.groupBy("g").agg(F.min("v").alias("mn"), F.max("v").alias("mx")).collect()
    }
    assert {r.g: (r.group_min, r.group_max) for r in raw} == mm

    # the small-input DIRECT regime (r10) must be value-identical to the
    # ranks plan, schema included, and actually dispatch: forcing the
    # threshold huge routes through Spark's percentile (plan mark), 0
    # routes through the ranks machinery (no percentile in the plan)
    direct = grouped_exact_quantiles(
        df, "g", "v", probs, extremes=True, direct_max_bytes=1 << 62
    )
    dplan = direct._jdf.queryExecution().optimizedPlan().toString()
    assert "percentile" in dplan
    dd = {(r.g, r.prob): round(r.quantile, 6) for r in direct.collect()}
    assert dd == truth
    assert {r.g: (r.group_min, r.group_max) for r in direct.collect()} == mm
    assert direct.columns == ["g", "prob", "quantile", "group_min", "group_max"]
    ranks = grouped_exact_quantiles(
        df, "g", "v", probs, extremes=True, direct_max_bytes=0
    )
    assert ranks.columns == direct.columns
    assert "percentile" not in ranks._jdf.queryExecution().optimizedPlan().toString()


def test_salted_agg_matches_plain(spark):
    from pyspark.sql import functions as F

    from catlas_spark.partitioning import salted_agg

    df = spark.range(0, 10_000).select(
        (F.col("id") % 3).alias("k"), (F.col("id") * 1.5).alias("v")
    )
    plain = {
        (r.k): (r.s, r.n)
        for r in df.groupBy("k").agg(F.sum("v").alias("s"), F.count("*").alias("n")).collect()
    }
    two_phase = salted_agg(
        df,
        ["k"],
        n_salts=8,
        partial_aggs=[F.sum("v").alias("ps"), F.count("*").alias("pn")],
        final_aggs=[F.sum("ps").alias("s"), F.sum("pn").alias("n")],
    )
    got = {(r.k): (r.s, r.n) for r in two_phase.collect()}
    assert got == plain


def test_connected_components_chain_and_islands(spark):
    from catlas_spark.operators.dedup import connected_components

    # chain 1-2-3-4 (transitivity failure shape), triangle 10-11-12,
    # isolated pair 20-21; pair list direction is arbitrary
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (4, 3), (10, 11), (12, 10), (11, 12), (21, 20)],
        "id_a long, id_b long",
    )
    # both regimes must agree: driver union-find (default for a graph
    # this small) and the distributed min-label loop (forced with
    # driver_max_edges=0)
    for dme in (200_000, 0):
        got = {
            (r["node"], r["cluster_id"])
            for r in connected_components(pairs, driver_max_edges=dme).collect()
        }
        assert got == {
            (1, 1), (2, 1), (3, 1), (4, 1),
            (10, 10), (11, 10), (12, 10),
            (20, 20), (21, 20),
        }, f"driver_max_edges={dme}"


def test_connected_components_converges_within_diameter_rounds(spark):
    from catlas_spark.operators.dedup import connected_components

    # path of 8 nodes: worst case for min-propagation; max_iter equal to
    # the diameter must still produce correct labels. driver_max_edges=0
    # forces the distributed loop — the regime under test here.
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "id_a long, id_b long"
    )
    out = connected_components(pairs, max_iter=8, driver_max_edges=0).collect()
    assert all(r["cluster_id"] == 0 for r in out)
    assert len(out) == 9


def test_connected_components_regime_equivalence_string_ids(spark):
    """The driver union-find regime must match the distributed loop on
    string node ids too (min is lexicographic on both paths), and both
    must return an empty (node, cluster_id) frame for an empty pair
    list."""
    from catlas_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [("b", "a"), ("b", "c"), ("x", "y")], "id_a string, id_b string"
    )
    uf = {(r.node, r.cluster_id) for r in connected_components(pairs).collect()}
    dist = {
        (r.node, r.cluster_id)
        for r in connected_components(pairs, driver_max_edges=0).collect()
    }
    assert uf == dist == {("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x")}

    empty = pairs.filter("1=0")
    for dme in (200_000, 0):
        out = connected_components(empty, driver_max_edges=dme)
        assert out.columns == ["node", "cluster_id"]
        assert out.count() == 0


def test_point_in_interval_join_boundaries_and_overlap(spark):
    from datetime import datetime

    from catlas_spark.operators.relational import point_in_interval_join

    pts = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1, 10, 0, 0)),   # == start: included
            (2, datetime(2024, 1, 1, 11, 59, 59)), # inside
            (3, datetime(2024, 1, 1, 12, 0, 0)),   # == end: excluded
            (4, datetime(2024, 1, 1, 11, 30, 0)),  # in overlap of iv 0 and 1
            (5, datetime(2024, 1, 2, 9, 59, 59)),  # outside everything
        ],
        "pid long, ts timestamp",
    )
    iv = spark.createDataFrame(
        [
            (0, datetime(2024, 1, 1, 10, 0, 0), datetime(2024, 1, 1, 12, 0, 0)),
            (1, datetime(2024, 1, 1, 11, 0, 0), datetime(2024, 1, 1, 13, 0, 0)),
        ],
        "iv_id long, s timestamp, e timestamp",
    )
    got = {
        (r["pid"], r["iv_id"])
        for r in point_in_interval_join(pts, iv, "ts", "s", "e").collect()
    }
    assert got == {(1, 0), (2, 0), (2, 1), (3, 1), (4, 0), (4, 1)}


def test_profile_table_one_pass_stats(spark):
    from catlas_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [(1, 2.5, "a"), (2, None, "b"), (3, 7.5, None), (3, 1.0, "a")],
        "k long, v double, s string",
    )
    rows = {r["column"]: r for r in profile_table(df).collect()}
    assert set(rows) == {"k", "v", "s"}
    k, v, s = rows["k"], rows["v"], rows["s"]
    assert (k["n_rows"], k["n_null"], k["n_distinct"], k["min_num"], k["max_num"]) == (4, 0, 3, 1.0, 3.0)
    assert (v["n_null"], v["n_distinct"], v["min_num"], v["max_num"]) == (1, 3, 1.0, 7.5)
    # string column: numeric stats NULL, string min/max populated
    assert s["min_num"] is None and (s["min_str"], s["max_str"]) == ("a", "b")
    assert s["n_null"] == 1 and s["n_distinct"] == 2
    # per-column group-aggregate branches: distinct counting is group
    # counting — NO count_distinct Expand anywhere — and no string
    # aggregate ever sees raw rows (only group keys), so no raw-row
    # SortAggregate either
    plan = profile_table(df)._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan
    assert "HashAggregate" in plan


def test_containment_pairs_directional(spark):
    from catlas_spark.operators.dedup import containment_pairs

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c"), (3, "x y z")],
        "doc long, text string",
    )
    rows = {(r["id_a"], r["id_b"]): r["containment"]
            for r in containment_pairs(df, "text", "doc", threshold=0.8).collect()}
    # doc 2's bigrams {a b, b c} are fully inside doc 1's; the reverse
    # direction is 2/4 = 0.5 and must NOT be flagged; doc 3 shares nothing
    assert rows == {(2, 1): 1.0}


def test_containment_pairs_high_df_corpus(spark):
    """Recall on a corpus where EVERY shingle's document frequency
    exceeds 100 (the r6–r9 df-cap bug regime, the sf0.1 failure mode):
    a fixed-df-cap candidate index finds ~nothing here; exact prefix
    filtering must match a brute-force Python oracle pair-for-pair."""
    from catlas_spark.operators.dedup import containment_pairs

    vocab = ["a", "b", "c", "d"]
    docs = []
    for i in range(250):
        # deterministic LCG walk over a 4-token vocabulary
        x, toks = (i * 7 + 3) % 64, []
        for _ in range(12):
            x = (x * 21 + 13) % 64
            toks.append(vocab[x % 4])
        docs.append((i, " ".join(toks)))

    # python oracle: token-bigram sets, containment(a in b) rounded to
    # 4 decimals, threshold 0.8
    import math

    sets = {
        d: {" ".join(t[j : j + 2]) for j in range(len(t) - 1)}
        for d, txt in docs
        for t in [txt.split()]
    }
    from collections import Counter

    df_counts = Counter(s for ss in sets.values() for s in ss)
    assert min(df_counts.values()) > 100, "fixture must be in the high-df regime"
    expected = {}
    for a, sa in sets.items():
        for b, sb in sets.items():
            if a == b:
                continue
            c = math.floor(len(sa & sb) / len(sa) * 10_000 + 0.5) / 10_000.0
            if c >= 0.8:
                expected[(a, b)] = c
    assert expected, "fixture must contain true containment pairs"

    df = spark.createDataFrame(docs, "doc long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_pairs(df, "text", "doc", threshold=0.8).collect()
    }
    assert got == expected


def test_banded_pairs_subset_of_exact(spark, sf_dir):
    """Banding may only REMOVE candidate pairs; every surviving pair
    must carry the identical exact-verified similarity."""
    from catlas_spark import queries as Q
    from catlas_spark.operators.dedup import banded_embedding_pairs

    e = Q._t(spark, sf_dir, "embeddings")
    exact = {
        (r.id_a, r.id_b): r.sim
        for r in Q.q_dedup_embedding_cosine(spark, sf_dir).collect()
    }
    lsh = {
        (r.id_a, r.id_b): r.sim
        for r in banded_embedding_pairs(
            e, "embedding", "vec_id", block_col="label", threshold=0.35
        ).collect()
    }
    assert set(lsh) <= set(exact)
    assert lsh  # bands must not be so selective that nothing survives
    assert all(exact[p] == s for p, s in lsh.items())


def test_set_containment_join_basic(spark):
    from catlas_spark.operators.relational import set_containment_join

    left = spark.createDataFrame(
        [(1, ["a", "b"]), (2, ["a", "z"]), (3, ["c"])],
        "lid long, els array<string>",
    )
    right = spark.createDataFrame(
        [(10, ["a", "b", "c"]), (20, ["a", "z"])],
        "rid long, els array<string>",
    )
    got = {
        (r.lid, r.rid): r.n_left
        for r in set_containment_join(left, "lid", "els", right, "rid", "els").collect()
    }
    # {a,b}⊆{a,b,c}; {a,z}⊆{a,z}; {c}⊆{a,b,c}; {a,z}⊄{a,b,c} (z missing)
    assert got == {(1, 10): 2, (2, 20): 2, (3, 10): 1}


def test_set_containment_postings_matches_array_api(spark):
    """The postings-level entry point must produce exactly the array
    API's output when fed the exploded-distinct form of the same sets
    (including duplicate source rows collapsed by .distinct())."""
    import pyspark.sql.functions as F

    from catlas_spark.operators.relational import (
        set_containment_join,
        set_containment_join_postings,
    )

    left = spark.createDataFrame(
        [(1, ["a", "b"]), (2, ["a", "z"]), (3, ["c"])],
        "lid long, els array<string>",
    )
    right = spark.createDataFrame(
        [(10, ["a", "b", "c"]), (20, ["a", "z"])],
        "rid long, els array<string>",
    )
    via_arrays = {
        (r.lid, r.rid, r.n_left)
        for r in set_containment_join(left, "lid", "els", right, "rid", "els").collect()
    }
    # postings with deliberate duplicates — .distinct() must collapse them
    l_post = left.select("lid", F.explode("els").alias("_el"))
    l_post = l_post.union(l_post).distinct()
    r_post = right.select("rid", F.explode("els").alias("_el")).distinct()
    via_postings = {
        (r.lid, r.rid, r.n_left)
        for r in set_containment_join_postings(l_post, "lid", r_post, "rid").collect()
    }
    assert via_postings == via_arrays


def test_set_containment_bitmap_matches_array_api(spark):
    """The bitmap strategy must agree with the array API, including the
    left-element-with-no-right-postings trap: that element must zero the
    bitmap AND still count toward |left set| (an inner join would
    silently claim containment of the remaining elements)."""
    import pyspark.sql.functions as F

    from catlas_spark.operators.relational import (
        set_containment_join,
        set_containment_join_bitmap,
    )

    left = spark.createDataFrame(
        # lid=4's element "q" has NO right postings → uncontainable
        [(1, ["a", "b"]), (2, ["a", "z"]), (3, ["c"]), (4, ["a", "q"])],
        "lid long, els array<string>",
    )
    right = spark.createDataFrame(
        [(10, ["a", "b", "c"]), (20, ["a", "z"]), (63, ["a", "b"]), (64, ["a"])],
        "rid long, els array<string>",
    )
    via_arrays = {
        (r.lid, r.rid, r.n_left)
        for r in set_containment_join(left, "lid", "els", right, "rid", "els").collect()
    }
    # duplicates on both sides — the operator dedups internally
    l_post = left.select("lid", F.explode("els").alias("_el"))
    l_post = l_post.union(l_post)
    r_post = right.select("rid", F.explode("els").alias("_el"))
    r_post = r_post.union(r_post)
    # a NULL right id carries no membership and must be DROPPED, not
    # raise the out-of-range error (the collect_set-era contract)
    r_post = r_post.union(
        spark.createDataFrame([(None, "a")], "rid long, _el string")
    )
    via_bitmap = {
        (r.lid, r.rid, r.n_left)
        for r in set_containment_join_bitmap(
            l_post, "lid", r_post, "rid", capacity=65
        ).collect()
    }
    assert via_bitmap == via_arrays
    assert not any(lid == 4 for lid, _, _ in via_bitmap)
    # rid=64 sits in the second bitmap word — cross-word decode covered
    assert (3, 10, 1) in via_bitmap and (1, 63, 2) in via_bitmap


def test_set_containment_auto_dispatches_by_right_id_stats(spark):
    """The auto entry must pick bitmap for a packed integral right-id
    space and fall back to the general postings plan when ids exceed the
    bitmap cap — with identical results either way."""
    import pyspark.sql.functions as F

    from catlas_spark.operators.relational import (
        set_containment_join,
        set_containment_join_auto,
    )

    left = spark.createDataFrame(
        [(1, ["a", "b"]), (2, ["a", "z"]), (3, ["c"])],
        "lid long, els array<string>",
    )
    l_post = left.select("lid", F.explode("els").alias("_el"))

    def expected(right):
        return {
            (r.lid, r.rid, r.n_left)
            for r in set_containment_join(
                left, "lid", "els", right, "rid", "els"
            ).collect()
        }

    def got(right, **kw):
        r_post = right.select("rid", F.explode("els").alias("_el"))
        out = set_containment_join_auto(l_post, "lid", r_post, "rid", **kw)
        return out, {(r.lid, r.rid, r.n_left) for r in out.collect()}

    dense = spark.createDataFrame(
        [(10, ["a", "b", "c"]), (20, ["a", "z"])], "rid long, els array<string>"
    )
    out, res = got(dense)
    assert res == expected(dense)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "posexplode" in plan  # bitmap branch (bit decode)

    # same data, cap forced below the ids → general postings branch
    out2, res2 = got(dense, bitmap_capacity_cap=4)
    assert res2 == expected(dense)
    assert "posexplode" not in out2._jdf.queryExecution().executedPlan().toString()

    # genuinely huge id space → postings branch without forcing
    sparse = spark.createDataFrame(
        [(1 << 40, ["a", "b", "c"]), ((1 << 40) + 7, ["a", "z"])],
        "rid long, els array<string>",
    )
    out3, res3 = got(sparse)
    assert res3 == expected(sparse)
    assert "posexplode" not in out3._jdf.queryExecution().executedPlan().toString()


def test_set_containment_auto_accepts_footer_bounds(spark, tmp_path):
    """`right_id_bounds` short-circuits the runtime min/max probe with
    planning-time stats: parquet footer bounds on the scanned id column
    must (a) round-trip through `parquet_column_bounds` and (b) steer
    the dispatcher to the same bitmap plan + identical results as the
    probing path."""
    import pyspark.sql.functions as F

    from catlas_spark.operators.relational import set_containment_join_auto
    from catlas_spark.sources.stats import parquet_column_bounds

    left = spark.createDataFrame(
        [(1, ["a", "b"]), (2, ["a", "z"]), (3, ["c"])],
        "lid long, els array<string>",
    )
    l_post = left.select("lid", F.explode("els").alias("_el"))
    right = spark.createDataFrame(
        [(10, "a"), (10, "b"), (10, "c"), (20, "a"), (20, "z")],
        "rid long, _el string",
    )
    path = str(tmp_path / "right_post")
    right.write.parquet(path)

    bounds = parquet_column_bounds(path, "rid")
    assert bounds == (10, 20)
    assert parquet_column_bounds(path, "no_such_col") is None
    assert parquet_column_bounds(str(tmp_path / "empty_dir"), "rid") is None

    r_post = spark.read.parquet(path)
    probed = set_containment_join_auto(l_post, "lid", r_post, "rid")
    hinted = set_containment_join_auto(
        l_post, "lid", r_post, "rid", right_id_bounds=bounds
    )
    res_p = {(r.lid, r.rid, r.n_left) for r in probed.collect()}
    res_h = {(r.lid, r.rid, r.n_left) for r in hinted.collect()}
    assert res_h == res_p == {(1, 10, 2), (2, 20, 2), (3, 10, 1)}
    # both are the bitmap plan; the hinted one just skipped the probe job
    assert "posexplode" in hinted._jdf.queryExecution().executedPlan().toString()


def test_skyline_2d_matches_brute_force_across_partitions(spark):
    """skyline_2d vs the quadratic dominance definition, on data with
    ties, duplicate points, and a forced multi-partition range layout
    (the cross-partition carry-in path must fire)."""
    from catlas_spark.operators.relational import skyline_2d

    pts = [
        (1.0, 9.0), (1.0, 9.0), (2.0, 7.0), (2.0, 8.0), (3.0, 7.0),
        (4.0, 6.0), (4.0, 6.5), (5.0, 1.0), (6.0, 1.0), (6.0, 0.5),
        (7.0, 3.0), (8.0, 0.5), (9.0, 0.4), (1.5, 9.5), (0.5, 12.0),
    ] + [(10.0 + i, 10.0 - i * 0.01) for i in range(40)]
    df = spark.createDataFrame([(x, y, 1) for x, y in pts], "x double, y double, z int")
    df = df.union(spark.createDataFrame([(None, 1.0, 1), (1.0, None, 1)], df.schema))

    def brute(points, max_x=False, max_y=False):
        def better(a, b):  # a dominates b
            ax, ay = (-a[0], a[1]) if max_x else (a[0], a[1])
            bx, by = (-b[0], b[1]) if max_x else (b[0], b[1])
            if max_y:
                ay, by = -ay, -by
            return ax <= bx and ay <= by and (ax < bx or ay < by)

        uniq = set(points)
        return {p for p in uniq if not any(better(q, p) for q in uniq if q != p)}

    for kw in ({}, {"max_y": True}, {"max_x": True, "max_y": True}):
        got = {
            (r.x, r.y)
            for r in skyline_2d(df, "x", "y", num_partitions=5, **kw).collect()
        }
        assert got == brute(pts, **kw), kw

    # single-partition degenerate layout (no carry-in map at all)
    got1 = {(r.x, r.y) for r in skyline_2d(df, "x", "y", num_partitions=1).collect()}
    assert got1 == brute(pts)


def test_set_containment_bitmap_rejects_out_of_range_ids(spark):
    import pytest as _pytest
    from pyspark.sql import functions as F  # noqa: F401

    from catlas_spark.operators.relational import set_containment_join_bitmap

    l_post = spark.createDataFrame([(1, "a")], "lid long, _el string")
    r_post = spark.createDataFrame([(99, "a")], "rid long, _el string")
    with _pytest.raises(Exception, match="capacity"):
        set_containment_join_bitmap(l_post, "lid", r_post, "rid", capacity=10).collect()


def test_cdc_chunks_shift_robust_where_fixed_chunks_fail(spark):
    """The design contrast between the two chunk-dedup operators: a
    banner APPENDED at a different token offset in every doc is invisible
    to fixed-window chunking but caught by content-defined chunking."""
    from catlas_spark.operators.dedup import cdc_chunk_stats, chunk_dedup_stats

    banner = "subscribe now click here to continue reading the full article"
    rows = [
        (i, " ".join(f"u{i}t{j}" for j in range(7 + 3 * i)) + " " + banner)
        for i in range(6)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    fixed = chunk_dedup_stats(docs, "text", "doc_id", chunk_tokens=10, min_docs=5)
    assert fixed.filter("n_boilerplate > 0").count() == 0  # misaligned → missed

    cdc = cdc_chunk_stats(docs, "text", "doc_id", boundary_mod=4, min_docs=5)
    assert cdc.filter("n_shared >= 1").count() == 6  # every doc's banner caught

    # and fixed chunking DOES catch the aligned (prepended) case
    pre = spark.createDataFrame(
        [(i, banner + " " + t.split(banner)[0].strip()) for i, t in rows],
        "doc_id long, text string",
    )
    fixed_pre = chunk_dedup_stats(pre, "text", "doc_id", chunk_tokens=10, min_docs=5)
    assert fixed_pre.filter("n_boilerplate >= 1").count() == 6


def test_quantile_preagg_regime_probe(spark):
    """grouped_exact_quantiles' own pre-aggregation dispatch (its fused
    probe, ``pre_aggregate=None``) must pick counting for
    duplicate-heavy values and the raw-row path for near-unique ones —
    and both paths must produce identical quantiles either way."""
    from pyspark.sql import functions as F

    from catlas_spark.partitioning import grouped_exact_quantiles

    dup_heavy = spark.range(10_000).select((F.col("id") % 20).cast("double").alias("v"))
    near_unique = spark.range(10_000).select((F.col("id") * 1.0).alias("v"))

    def pre_aggregated(frame) -> bool:
        # direct_max_bytes=0: past the small-input regime, which has no
        # pre-aggregation dispatch; the pre-aggregation is the
        # (group, value) count that feeds the per-cell stats
        out = grouped_exact_quantiles(
            frame.withColumn("g", F.lit(1)), "g", "v", [0.5], direct_max_bytes=0
        )
        return "count(1) AS __cnt" in out._jdf.queryExecution().analyzed().toString()

    assert pre_aggregated(dup_heavy) is True
    assert pre_aggregated(near_unique) is False
    # and the docstring's actual claim (r8 tautology hunt: it was never
    # tested HERE): both regimes produce identical quantiles on the
    # same data, forced past the dispatch
    for frame in (dup_heavy.withColumn("g", F.lit(1)), near_unique.withColumn("g", F.lit(1))):
        a = sorted(
            map(str, grouped_exact_quantiles(frame, "g", "v", [0.1, 0.5, 0.9], pre_aggregate=True, direct_max_bytes=0).collect())
        )
        b = sorted(
            map(str, grouped_exact_quantiles(frame, "g", "v", [0.1, 0.5, 0.9], pre_aggregate=False, direct_max_bytes=0).collect())
        )
        assert a == b and a


def test_twap_constant_series_is_identity(spark):
    """A user whose value never changes must have twap == that value
    exactly, independent of interval spacing (the weighting must
    normalize); and n_intervals == n_events - 1."""
    import datetime as dt

    from pyspark.sql import functions as F

    rows = [
        (i, dt.datetime(2024, 1, 1, 0, 0, 0) + dt.timedelta(minutes=m), 10, 7.25)
        for i, m in enumerate([0, 1, 5, 60, 61])
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = df.select(
        "user_id",
        "value",
        F.unix_micros("ts").alias("t"),
        F.lead(F.unix_micros("ts")).over(w).alias("tn"),
    ).filter(F.col("tn").isNotNull())
    terms = o.select(
        "user_id",
        F.floor(F.col("value") * (F.col("tn") - F.col("t")) * 10000 + F.lit(0.5))
        .cast("long")
        .alias("w4"),
        (F.col("tn") - F.col("t")).alias("dt"),
    )
    out = terms.groupBy("user_id").agg(
        F.round((F.sum("w4") / 10000.0) / F.sum("dt"), 6).alias("twap"),
        F.count(F.lit(1)).alias("n_intervals"),
    ).collect()
    assert len(out) == 1
    assert out[0].twap == 7.25
    assert out[0].n_intervals == 4


def test_scd2_intervals_tile_each_user_timeline(spark, sf_dir):
    """Per user: intervals must be contiguous (each valid_to equals the
    next valid_from), non-overlapping, start at the user's first event,
    and have exactly one open is_current row — the SCD2 contract."""
    from catlas_spark import queries as Q

    rows = Q._REGISTRY["scd2_intervals"][0](spark, sf_dir).collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    assert by_user
    for user, ivs in by_user.items():
        ivs.sort(key=lambda r: r.valid_from)
        assert sum(r.is_current for r in ivs) == 1
        assert ivs[-1].is_current and ivs[-1].valid_to == "9999-12-31 00:00:00"
        for a, b in zip(ivs, ivs[1:]):
            assert a.valid_to == b.valid_from, (user, a, b)
            # change compression: adjacent intervals differ in type
            assert a.event_type != b.event_type


def test_rolling_active_users_matches_naive_range_join(spark, sf_dir):
    """The bounded-explode sliding distinct must equal the naive
    per-day range recount (the quadratic formulation it replaces)."""
    from pyspark.sql import functions as F

    from catlas_spark import queries as Q
    from catlas_spark.queries import _events

    got = {
        r.day: r.active_7d
        for r in Q._REGISTRY["rolling_active_users"][0](spark, sf_dir).collect()
    }
    ev = _events(spark, sf_dir).select(
        F.to_date("ts").alias("d"), "user_id"
    ).distinct()
    days = [r.d for r in ev.select("d").distinct().collect()]
    for d in days:
        naive = (
            ev.filter(
                (F.col("d") <= F.lit(d)) & (F.col("d") >= F.date_sub(F.lit(d), 6))
            )
            .select("user_id")
            .distinct()
            .count()
        )
        assert got[d.strftime("%Y-%m-%d")] == naive, d


def test_association_rules_probability_bounds(spark, sf_dir):
    """Every rule: 0 < confidence <= 1; support <= both item supports
    implies lift*P(b) = confidence <= 1; and the pair is symmetric in
    support (a->b and b->a agree on support when both survive min-sup)."""
    from catlas_spark import queries as Q

    rows = Q._REGISTRY["association_rules"][0](spark, sf_dir).collect()
    assert rows
    sup = {(r.ante, r.cons): r.support for r in rows}
    for r in rows:
        assert 0 < r.confidence <= 1.0
        assert r.support >= 5
        assert r.lift > 0
        if (r.cons, r.ante) in sup:
            assert sup[(r.cons, r.ante)] == r.support


def test_entity_golden_record_survivorship(spark, sf_dir):
    """Planted-variant ER: every cluster has >= 2 members, the golden id
    is an original (not a shifted variant key) whenever an original is
    in the cluster, and the canonical name is the richest member's (the
    original, since variants carry bal - 50)."""
    from catlas_spark import queries as Q

    rows = Q._REGISTRY["entity_golden_record"][0](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_members >= 2
        assert r.golden_custkey < 1000000  # min key is the original
        assert r.cluster_id == r.golden_custkey  # min-label CC + min key
        # canonical name is an undamaged original name (no deleted char):
        # synthetic names are 'Customer#<9 digits>' = 18 chars
        assert len(r.canonical_name) == 18, r.canonical_name


def test_pin_reliable_checkpoint_env(spark, tmp_path, monkeypatch):
    """With SPARK_GRAFT_CHECKPOINT_DIR set, pin() uses a RELIABLE
    checkpoint in that directory (survives executor loss on a real
    cluster) instead of localCheckpoint; results are identical and the
    directory is actually populated."""
    import os

    from pyspark.sql import functions as F

    from catlas_spark.caching import pin

    df = spark.range(0, 1000).withColumn("v", F.col("id") % 7)
    local = sorted(pin(df).collect())

    ckpt = str(tmp_path / "reliable_ckpt")
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", ckpt)
    reliable = sorted(pin(df).collect())
    assert reliable == local
    assert any(os.scandir(ckpt))  # blocks were written to the dir


def test_grouped_exact_quantiles_edge_cases(spark):
    """ADVICE r5 regressions: (a) num_partitions=1 means an empty
    boundary-sketch percentage list — the probe must skip
    percentile_approx instead of failing analysis; (b) NULL and boolean
    group values must survive the covering-cell pruning (the old
    string-keyed filter concat_ws-dropped NULL groups and rendered
    booleans 'true'/'false' vs Python's 'True', silently deleting those
    groups' rows)."""
    from catlas_spark.partitioning import grouped_exact_quantiles

    rows = [
        (None, 1.0), (None, 2.0), (None, 3.0),
        (True, 10.0), (True, 20.0),
        (False, 5.0),
    ]
    df = spark.createDataFrame(rows, "grp boolean, val double")
    for n_parts in (1, 4):
        got = {
            (r.grp, r.prob): r.quantile
            for r in grouped_exact_quantiles(df, "grp", "val", [0.0, 0.5, 1.0], direct_max_bytes=0, num_partitions=n_parts
            ).collect()
        }
        assert got == {
            (None, 0.0): 1.0, (None, 0.5): 2.0, (None, 1.0): 3.0,
            (True, 0.0): 10.0, (True, 0.5): 15.0, (True, 1.0): 20.0,
            (False, 0.0): 5.0, (False, 0.5): 5.0, (False, 1.0): 5.0,
        }, f"num_partitions={n_parts}"


def test_grouped_exact_quantiles_value_bounds(spark):
    """Planning-time value_bounds (parquet-footer min/max) must give the
    same exact quantiles as the sketch path — boundaries steer only
    bucket balance — including with NULL groups, conservative (wider)
    bounds, degenerate lo==hi bounds, and both dispatch modes (the
    bounds path must still run the distinct-ratio probe when
    pre_aggregate=None)."""
    from pyspark.sql import functions as F

    from catlas_spark.partitioning import grouped_exact_quantiles

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 10.0), ("b", 5.0), (None, 3.0), (None, 7.0)],
        "g string, v double",
    )
    probs = [0.0, 0.5, 1.0]
    truth = {}
    for r in df.groupBy("g").agg(
        *[F.percentile("v", F.lit(p)).alias(f"p{i}") for i, p in enumerate(probs)]
    ).collect():
        for i, p in enumerate(probs):
            truth[(r["g"], float(p))] = round(r[f"p{i}"], 6)
    for vb in ((1.0, 10.0), (-100.0, 100.0), (3.0, 3.0)):
        for pre in (None, True, False):
            got = {
                (r["g"], r.prob): round(r.quantile, 6)
                for r in grouped_exact_quantiles(df, "g", "v", probs, direct_max_bytes=0, num_partitions=4,
                    pre_aggregate=pre, value_bounds=vb,
                ).collect()
            }
            assert got == truth, f"value_bounds={vb} pre_aggregate={pre}"


def test_grouped_min_argmin_sortorder_tiebreak(spark):
    """A SortOrder tiebreak (.desc()) cannot ride inside the min_by
    struct key — it must route to the window form and be honored."""
    df = spark.createDataFrame(
        [(1, 5, "a"), (1, 5, "b"), (2, 3, "c")], "g int, v int, p string"
    )
    got = {
        r.g: r.p
        for r in grouped_min_argmin(
            df, ["g"], F.col("v"), [F.col("p").desc()]
        ).collect()
    }
    assert got == {1: "b", 2: "c"}
    # plain ascending tiebreak keeps the hash-aggregate form's answer
    got_asc = {
        r.g: r.p
        for r in grouped_min_argmin(df, ["g"], F.col("v"), [F.col("p")]).collect()
    }
    assert got_asc == {1: "a", 2: "c"}


def test_grouped_exact_quantiles_releases_its_cache(spark):
    """The pre-aggregate regime persists its (group, value) table across
    the stats and final passes; the cache entry must be released once
    the caller drops the output (review round 6 caught the frame being
    rebound by the pruning join, which leaked the persisted subtree in
    the CacheManager forever)."""
    import gc

    from pyspark.sql import functions as F

    from catlas_spark.partitioning import grouped_exact_quantiles

    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    df = spark.range(0, 5000).select(
        (F.col("id") % 3).alias("g"), (F.col("id") % 7).cast("double").alias("v")
    )
    out = grouped_exact_quantiles(df, "g", "v", [0.5], pre_aggregate=True, direct_max_bytes=0)
    out.collect()
    del out
    gc.collect()
    assert cm.isEmpty(), "grouped_exact_quantiles leaked a CacheManager entry"


def test_lazy_plans_releases_pins_on_exit(spark):
    """pin() persists (instead of checkpointing) under lazy_plans so
    plan sweeps see the pinned subtree — and the context exit must
    unpersist every lazy pin, or the leaked canonicalized-plan cache
    entries would serve stale results to later queries (the hazard
    caching.py documents; r7 tautology hunt)."""
    import gc

    from pyspark.sql import functions as F

    from catlas_spark.caching import lazy_plans, pin

    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    with lazy_plans():
        df = pin(spark.range(100).select((F.col("id") % 7).alias("k")))
        assert df.count() == 100  # usable inside the context
        assert not cm.isEmpty()  # persisted, subtree visible to explain
    gc.collect()
    assert cm.isEmpty(), "lazy_plans leaked a pinned cache entry"


def test_connected_components_ignores_null_endpoints(spark):
    """Edges with a NULL endpoint carry no linkage information — both
    regimes must drop them (the union-find path would otherwise raise
    TypeError comparing None to int; the distributed path would skip
    them via F.min NULL semantics, diverging the regimes)."""
    from catlas_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (None, 3), (4, None), (5, 6)], "id_a long, id_b long"
    )
    expect = {(1, 1), (2, 1), (5, 5), (6, 5)}
    for dme in (200_000, 0):
        got = {
            (r.node, r.cluster_id)
            for r in connected_components(pairs, driver_max_edges=dme).collect()
        }
        assert got == expect, f"driver_max_edges={dme}"


def test_parquet_column_bounds_skips_all_null_row_group(spark, tmp_path):
    """An all-null row group has stats with has_min_max=False but
    num_values COUNTING the nulls — the skip test must compare the
    statistics' null_count, not num_values==0, or one null-only group
    disables bounds for the whole dataset."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from catlas_spark.sources.stats import parquet_column_bounds

    d = tmp_path / "bounds"
    d.mkdir()
    pq.write_table(
        pa.table({"v": pa.array([None, None, None], pa.int64())}),
        str(d / "a.parquet"),
    )
    pq.write_table(
        pa.table({"v": pa.array([5, 9, 7], pa.int64())}), str(d / "b.parquet")
    )
    assert parquet_column_bounds(str(d), "v") == (5, 9)


def test_point_in_interval_left_join_keeps_unmatched_points(spark):
    """The exact range predicate must sit INSIDE the join condition for
    left-side joins — post-filtering evaluates NULL on unmatched rows
    and silently degrades the outer join to inner. right/full are
    rejected (an unmatched interval would emit once per expansion
    bucket)."""
    import pytest

    from catlas_spark.operators.relational import point_in_interval_join

    pts = spark.createDataFrame(
        [("2024-01-01 10:30:00",), ("2024-01-01 23:00:00",)], "p string"
    ).select(F.col("p").cast("timestamp").alias("p"))
    iv = spark.createDataFrame(
        [("2024-01-01 10:00:00", "2024-01-01 11:00:00", "A")], "s string, e string, tag string"
    ).select(
        F.col("s").cast("timestamp").alias("s"),
        F.col("e").cast("timestamp").alias("e"),
        "tag",
    )
    out = point_in_interval_join(pts, iv, "p", "s", "e", how="left").collect()
    got = {(str(r.p), r.tag) for r in out}
    assert got == {
        ("2024-01-01 10:30:00", "A"),
        ("2024-01-01 23:00:00", None),  # unmatched point SURVIVES
    }
    inner = point_in_interval_join(pts, iv, "p", "s", "e").collect()
    assert len(inner) == 1
    with pytest.raises(ValueError, match="left-side"):
        point_in_interval_join(pts, iv, "p", "s", "e", how="full")


def test_connected_components_raises_when_unconverged(spark):
    """Exiting the distributed loop still changing means split clusters;
    the operator must raise, not return them silently."""
    import pytest

    from catlas_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iter=3, driver_max_edges=0)


def test_parquet_column_bounds_refuses_dictionary_string(tmp_path):
    """Dictionary-encoded string columns (pandas categorical writers)
    hide the string type one level down; the truncated-stats refusal
    must unwrap them or a BYTE_ARRAY column's writer-truncatable footer
    min/max leaks out as 'exact' bounds (r8 review)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from catlas_spark.sources.stats import parquet_column_bounds

    p = str(tmp_path / "cat.parquet")
    tbl = pa.table(
        {
            "k": pa.array([1, 2, 3], pa.int64()),
            "cat": pa.array(["a", "b", "a"]).dictionary_encode(),
            "fsb": pa.array([b"xx", b"yy", b"zz"], pa.binary(2)),
        }
    )
    pq.write_table(tbl, p)
    assert parquet_column_bounds(p, "cat") is None  # dictionary<string>
    assert parquet_column_bounds(p, "fsb") is None  # fixed_size_binary
    assert parquet_column_bounds(p, "k") == (1, 3)  # numeric unaffected


def test_profile_table_decimals_and_empty_selection(spark):
    """r8 review: decimal columns were silently omitted from the default
    profile (dtype string 'decimal(p,s)' not in the _NUMERIC set even
    though _is_num supports it), and an empty selection crashed with a
    bare IndexError instead of a descriptive error."""
    import pytest
    from pyspark.sql import functions as F

    from catlas_spark.operators.profile import profile_table

    df = spark.range(3).select(
        F.col("id").cast("decimal(12,2)").alias("amount"),
        F.current_date().alias("d"),
    )
    prof = {r.column for r in profile_table(df).collect()}
    assert "amount" in prof  # decimal profiled by default
    with pytest.raises(ValueError, match="no profileable columns"):
        profile_table(df.select("d"))
