"""Unit tests for BPE merge training (greedy run-parity application) and
duplicate-span coverage (island merging) on crafted inputs, beyond the
corpus-level oracle sweep in test_oracle_parity."""

from __future__ import annotations

from catlas_spark.operators.tokenize import bpe_segment_words, bpe_train
from catlas_spark.queries import q_dup_span_coverage


def test_bpe_greedy_run_parity(spark):
    """'aaaa' under merge (a,a) must become [aa, aa] (every other match
    in the run), never three overlapping pairs; later steps see the
    merged symbols."""
    wc = spark.createDataFrame(
        [("aaaa", 2), ("ab", 3)], "word STRING, cnt LONG"
    )
    got = [tuple(r) for r in bpe_train(wc, n_merges=3).orderBy("step").collect()]
    assert got == [
        # (a,a) occurs at 3 positions per 'aaaa' x2 words = 6
        (1, "a", "a", "aa", 6),
        # after greedy application 'aaaa' -> [aa, aa]: (aa,aa)=2 < (a,b)=3
        (2, "a", "b", "ab", 3),
        (3, "aa", "aa", "aaaa", 2),
    ]


def test_bpe_odd_run(spark):
    """Odd-length run: 'aaa' -> [aa, a] (positions 1,2 match; only the
    run-head merges), and the next iteration counts the (aa, a) pair."""
    wc = spark.createDataFrame([("aaa", 1)], "word STRING, cnt LONG")
    got = [tuple(r) for r in bpe_train(wc, n_merges=2).orderBy("step").collect()]
    assert got == [(1, "a", "a", "aa", 2), (2, "aa", "a", "aaa", 1)]


def test_bpe_stops_when_no_pairs(spark):
    """Single-char words have no adjacent pairs: the merge table is
    empty, not an error."""
    wc = spark.createDataFrame([("a", 5), ("b", 2)], "word STRING, cnt LONG")
    assert bpe_train(wc, n_merges=2).count() == 0


def test_bpe_segment_words_applies_last_merge(spark):
    """bpe_segment_words applies ALL learned merges (bpe_train skips
    applying the last): with the same corpus as the run-parity test the
    3rd merge (aa,aa)->aaaa must be applied, so 'aaaa' segments to ONE
    piece and 'ab' to one piece after merge 2."""
    wc = spark.createDataFrame([("aaaa", 2), ("ab", 3)], "word STRING, cnt LONG")
    seg = bpe_segment_words(wc, n_merges=3)
    got = {
        r.word: [s for _, s in sorted((r2.pos, r2.sym) for r2 in rows)]
        for r, rows in (
            (r, [x for x in seg.collect() if x.word == r.word])
            for r in seg.select("word").distinct().collect()
        )
    }
    assert got == {"aaaa": ["aaaa"], "ab": ["ab"]}


def test_bpe_segment_words_partial_merge(spark):
    """A word where only some merges apply keeps its residue pieces:
    'aab' under merges learned from {'aab': 3} -> step1 (a,a), step2
    (aa,b) with n_merges=1 leaves ['aa', 'b']."""
    wc = spark.createDataFrame([("aab", 3)], "word STRING, cnt LONG")
    seg = bpe_segment_words(wc, n_merges=1)
    rows = sorted((r.pos, r.sym) for r in seg.collect())
    assert [s for _, s in rows] == ["aa", "b"]


def test_bpe_regime_equality(spark):
    """Forced driver (pure-Python merge loop) and forced distributed
    (window/groupBy loop) regimes must produce identical merge tables
    AND identical final segmentations on the adversarial fixtures (run
    parity 'aaaa', odd run 'aaa', residue 'aab', tie-break candidates) —
    the unit-scale twin of the regime_gate sf0.1 hash check."""
    wc = spark.createDataFrame(
        [("aaaa", 2), ("aaa", 1), ("aab", 3), ("ab", 3), ("ba", 3)],
        "word STRING, cnt LONG",
    )
    m_drv = [
        tuple(r)
        for r in bpe_train(wc, n_merges=3, driver_max_vocab=1 << 20)
        .orderBy("step")
        .collect()
    ]
    m_dst = [
        tuple(r)
        for r in bpe_train(wc, n_merges=3, driver_max_vocab=0)
        .orderBy("step")
        .collect()
    ]
    assert m_drv == m_dst and len(m_drv) == 3
    s_drv = sorted(
        tuple(r)
        for r in bpe_segment_words(
            wc, n_merges=3, driver_max_vocab=1 << 20
        ).collect()
    )
    s_dst = sorted(
        tuple(r)
        for r in bpe_segment_words(wc, n_merges=3, driver_max_vocab=0).collect()
    )
    assert s_drv == s_dst


def test_dup_span_islands_merge(spark, tmp_path):
    """Two docs share an 8-token prefix: duplicated 5-gram starts at
    positions 0..3, whose [s, s+4] windows must merge into ONE island
    covering 8 tokens — not 4 x 5 = 20. A doc with unique text reports
    zero coverage but still appears in the output."""
    shared = "p q r s t u v w"
    rows = [
        (1, f"{shared} a b"),
        (2, f"{shared} x y"),
        (3, "k1 k2 k3 k4 k5 k6"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    d = str(tmp_path / "star")
    df.write.parquet(f"{d}/documents.parquet")
    out = {
        r["doc_id"]: (r["n_tokens"], r["covered_tokens"], r["dup_frac"])
        for r in q_dup_span_coverage(spark, d).collect()
    }
    assert out[1] == (10, 8, 0.8)
    assert out[2] == (10, 8, 0.8)
    assert out[3] == (6, 0, 0.0)


def test_fuzzy_join_edit_classes(spark, tmp_path):
    """Deletion-neighborhood blocking must surface all three distance-1
    edit classes (substitution, insertion/deletion via the identity
    variant, exact-length delete) and must NOT pass distance-2 pairs
    that share a blocking variant (transposition 'ab'/'ba' shares both
    'a' and 'b')."""
    from catlas_spark.queries import q_fuzzy_name_join

    names = ["abc", "axc", "ab", "ba", "xyz"]
    # custkeys are multiples of 10: the registry form subsamples keys
    # via c_custkey % 10 = 0 (oracle-cost honesty; see the docstring)
    df = spark.createDataFrame(
        [(i * 10, n) for i, n in enumerate(names)], "c_custkey LONG, c_name STRING"
    )
    d = str(tmp_path / "star")
    df.write.parquet(f"{d}/customer.parquet")
    got = {
        (r["name_a"], r["name_b"]): r["dist"]
        for r in q_fuzzy_name_join(spark, d).collect()
    }
    assert got == {
        ("abc", "axc"): 1,  # substitution (shared delete-at-2 variant "ac")
        ("ab", "abc"): 1,  # deletion: "ab" IS abc's delete-c variant
    }


def test_leakage_safe_split_holds_clusters_together(spark, sf_dir):
    """The invariant the operator exists for: no near-dup cluster spans
    splits. Contrast: the naive doc-keyed 80/20 hash DOES leak on the
    same clusters (some component gets docs on both sides), which is
    exactly why the split must key on the cluster id."""
    from pyspark.sql import functions as F

    from catlas_spark.queries import q_leakage_safe_split

    out = q_leakage_safe_split(spark, sf_dir)
    per_cluster = out.groupBy("cluster_id").agg(
        F.count_distinct("split").alias("n_splits"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    assert per_cluster.filter(F.col("n_splits") > 1).count() == 0
    # there are real multi-doc clusters (otherwise the test is vacuous)
    multi = per_cluster.filter(F.col("n_docs") >= 2)
    assert multi.count() > 0

    naive = out.withColumn(
        "naive_split",
        F.when((F.col("doc_id") * 2654435761) % 100 < 80, "train").otherwise("test"),
    )
    leaked = (
        naive.groupBy("cluster_id")
        .agg(F.count_distinct("naive_split").alias("n"))
        .filter(F.col("n") > 1)
    )
    assert leaked.count() > 0  # the naive split leaks on this corpus
