"""Similarity-operator tests: k-means, semantic dedup, quantized and
product-quantized top-k, two-level assignment and blocked cosine pairs,
each checked against a local replay or an exact form."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_kmeans_lloyd_matches_numpy_replay(spark, sf_dir):
    """The distributed Lloyd iterations must equal a single-machine numpy
    replay using the same deterministic init, grid snapping, and id
    tie-breaks — the local ground truth for the distributed plan."""
    import numpy as np

    from catlas_spark.operators.similarity import kmeans_lloyd

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    got = {
        r.cluster_id: (r.n_members, r.inertia)
        for r in kmeans_lloyd(emb, k=8, iters=2).collect()
    }

    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    V = np.array([[float(x) for x in r.embedding] for r in rows])  # double
    snap = lambda a: np.floor(a * 10000 + 0.5) / 10000
    C = V[np.argsort(ids)][:8][np.argsort(np.sort(ids)[:8])]  # ids 0..7 in order
    assign, last_d2 = None, None
    for _ in range(2):
        d2 = snap(((V[:, None, :] - C[None, :, :]) ** 2).sum(axis=2))
        assign = d2.argmin(axis=1)  # argmin takes lowest index on ties
        last_d2 = d2  # the d2 the OPERATOR aggregates: vs the centroids
        # the final assignment was made against (pre-final-update)
        C = np.array(
            [
                snap(V[assign == c].mean(axis=0)) if (assign == c).any() else C[c]
                for c in range(8)
            ]
        )
    # final assignment's stats — counts AND inertia (r8 tautology hunt:
    # the old test only compared counts and asserted inertia > 0, so a
    # wrong-centroid/doubled inertia stayed green; the old final-d2
    # recompute vs the POST-update C was dead code)
    exp = {}
    for c in range(8):
        m = assign == c
        if m.any():
            exp[c] = (int(m.sum()), round(float(last_d2[m, c].sum()), 2))
    assert {c: n for c, (n, _) in got.items()} == {c: n for c, (n, _) in exp.items()}
    for c, (_, inertia) in got.items():
        # float addition order differs between engines; snapped d2 sums
        # agree far tighter than the 1e-2 rounding grid
        assert abs(inertia - exp[c][1]) < 0.02, (c, inertia, exp[c][1])


def test_semantic_dedup_null_and_zero_vectors(spark):
    """r7 review regressions: a NULL embedding must survive (it scores
    NULL against every mate in the join form — it must not crash
    np.stack), and a ZERO vector must neither drop cluster-mates nor be
    dropped (0/0 divides to NULL in Spark's join form; the numpy NaN
    must not poison the running max and drop the cluster's tail)."""
    from catlas_spark.operators.similarity import semantic_dedup

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 0.0, 0.0, 0.0]),  # zero norm
        (2, [1.0, 0.0, 0.0, 0.0]),  # exact dup of vec 0 -> must drop
        (3, None),  # NULL embedding
        (4, [0.0, 1.0, 0.0, 0.0]),  # orthogonal -> must survive
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r.vec_id: r.n_cluster_members for r in semantic_dedup(
        emb, k=2, tau=0.9
    ).collect()}
    assert 2 not in got  # the true duplicate is pruned
    assert {0, 1, 3, 4} <= set(got)  # zero-norm, NULL, orthogonal all kept
    assert sum(got.values()) >= len(got)  # sizes count every member


def test_semantic_dedup_regimes_agree_on_messy_data(spark):
    """Both assignment regimes must agree on malformed inputs too: a
    NULL vector among the k smallest ids (the seed filter — without it
    Spark's NULLS FIRST window let a NULL seed hijack every
    assignment), a ragged (wrong-length) vector (np.stack crash in the
    Arrow path before r7 review; NULL-fold degrade in the JVM path),
    and ordinary rows. Same survivors, clusters, sizes."""
    from catlas_spark.operators.similarity import semantic_dedup

    rows = [
        (0, None),  # NULL vector with the SMALLEST id -> would be a seed
        (1, [1.0, 0.0, 0.0]),
        (2, [1.0, 0.0]),  # ragged
        (3, [2.0, 0.0, 0.0]),  # cosine-dup of 1
        (4, [0.0, 1.0, 0.0]),
        (5, [2.0, 0.0]),  # cosine-dup of 2 (same-length pair must score)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def run(thresh):
        return sorted(
            (r.vec_id, r.cluster_id, r.n_cluster_members)
            for r in semantic_dedup(
                emb, k=3, tau=0.9, arrow_assign_from=thresh
            ).collect()
        )

    jvm, arrow = run(10**9), run(1)
    assert jvm == arrow and len(jvm) > 0
    kept = {v for v, _, _ in jvm}
    assert 0 in kept and 4 in kept  # NULL row and orthogonal row survive


def test_semantic_dedup_assignment_regimes_identical(spark, sf_dir):
    """The large-k Arrow assignment (map-side dim-sequential numpy fold,
    identical floor-snap, argmin-first tie-break) must be BIT-IDENTICAL
    to the JVM broadcast-cross-join assignment — same survivors, same
    clusters, same sizes — since the oracle only ever certifies the
    JVM path (k=8). Forced via the arrow_assign_from dispatch knob at
    the same k on both sides."""
    from catlas_spark.operators.similarity import semantic_dedup

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    k, tau = 80, 0.38
    jvm = sorted(
        (r.vec_id, r.cluster_id, r.n_cluster_members)
        for r in semantic_dedup(emb, k=k, tau=tau, arrow_assign_from=10**9).collect()
    )
    arrow = sorted(
        (r.vec_id, r.cluster_id, r.n_cluster_members)
        for r in semantic_dedup(emb, k=k, tau=tau, arrow_assign_from=1).collect()
    )
    assert jvm == arrow and len(jvm) > 0


def test_kmeans_assignment_regimes_identical(spark, sf_dir):
    """kmeans_lloyd's large-k Arrow assignment must be bit-identical to
    the JVM cross-join path across BOTH iterations (the second
    iteration's centroids depend on the first's assignment, so any
    divergence compounds and shows here)."""
    from catlas_spark.operators.similarity import kmeans_lloyd

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    jvm = sorted(
        (r.cluster_id, r.n_members, r.inertia)
        for r in kmeans_lloyd(emb, k=80, iters=2, arrow_assign_from=10**9).collect()
    )
    arrow = sorted(
        (r.cluster_id, r.n_members, r.inertia)
        for r in kmeans_lloyd(emb, k=80, iters=2, arrow_assign_from=1).collect()
    )
    assert jvm == arrow and len(jvm) > 0


def test_semantic_dedup_invariants(spark, sf_dir):
    """SemDeDup contract checks beyond the SQL oracle: survivors are a
    subset of the corpus, tau=1.01 keeps everything, every dropped row
    has a surviving higher-priority cluster-mate above tau (numpy
    replay), and the per-cluster keeper (rank 1) always survives."""
    import numpy as np

    from catlas_spark.operators.similarity import semantic_dedup

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()

    keep_all = semantic_dedup(emb, k=8, tau=1.01)
    assert keep_all.count() == n

    tau = 0.38
    kept = {r.vec_id for r in semantic_dedup(emb, k=8, tau=tau).collect()}
    assert kept <= {r.vec_id for r in emb.select("vec_id").collect()}
    assert len(kept) < n  # the threshold does real work on this corpus

    # numpy replay of assignment + priority + prune
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    V = np.array([[float(x) for x in r.embedding] for r in rows])
    order = np.argsort(ids)
    ids, V = ids[order], V[order]
    snap = lambda a: np.floor(a * 10000 + 0.5) / 10000
    C = V[:8]
    d2 = snap(((V[:, None, :] - C[None, :, :]) ** 2).sum(axis=2))
    assign = d2.argmin(axis=1)
    best = d2[np.arange(len(ids)), assign]
    nv = np.sqrt((V * V).sum(axis=1))
    expected_kept = set()
    for c in set(assign.tolist()):
        m = np.where(assign == c)[0]
        prio = m[np.lexsort((ids[m], best[m]))]  # (d2, id) ascending
        # drop i iff ANY higher-priority cluster-mate (surviving or not)
        # is tau-close — the non-cascading rule the operator declares
        for pos, i in enumerate(prio):
            sims = [
                round(float(V[i] @ V[j]) / float(nv[i] * nv[j]), 4)
                for j in prio[:pos]
            ]
            if not any(s >= tau for s in sims):
                expected_kept.add(int(ids[i]))
    assert kept == expected_kept


def test_quantize_vectors_contract(spark, sf_dir):
    """Int8 scalar quantization: integers stay in [-127, 127], the
    max-|x| component maps to +-127 exactly, and dequantization error is
    bounded by half a quantization step (the contract that makes the
    4x-smaller column a drop-in for cosine search)."""
    from catlas_spark.operators.similarity import quantize_vectors

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qz = quantize_vectors(emb).select("vec_id", "embedding", "__qvec", "__qscale")
    for r in qz.collect():
        qs = r["__qvec"]
        assert max(abs(q) for q in qs) == 127
        for x, q in zip(r.embedding, qs):
            assert abs(q * r["__qscale"] - float(x)) <= r["__qscale"] / 2 + 1e-9


def test_quantized_topk_recall(spark, sf_dir):
    """int8 quantization of 64-dim vectors must preserve most of the
    exact top-5 neighborhood (the recall certification the operator
    annotates per row), and each query must emit exactly k ranked rows."""
    from pyspark.sql import functions as F

    from catlas_spark.operators.similarity import quantized_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = quantized_topk(emb, emb.filter(F.col("vec_id") < 8), k=5).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.q_id, []).append(r)
    assert set(by_q) == set(range(8))
    for q, rows in by_q.items():
        assert sorted(r.rank for r in rows) == [1, 2, 3, 4, 5]
    recall = sum(r.in_exact for r in out) / len(out)
    assert recall >= 0.6, recall


def test_quantize_vectors_zero_vector_guard(spark):
    """An all-zero vector must quantize to all-zero integers (via the
    epsilon floor on the scale) instead of NULLs or a div-by-zero."""
    from catlas_spark.operators.similarity import quantize_vectors

    df = spark.createDataFrame(
        [(0, [0.0, 0.0, 0.0]), (1, [0.5, -1.0, 0.25])],
        "vec_id long, embedding array<float>",
    )
    rows = {r.vec_id: r["__qvec"] for r in quantize_vectors(df).collect()}
    assert rows[0] == [0, 0, 0]
    assert rows[1] == [64, -127, 32]  # scale = 1.0/127


def test_quantized_topk_production_path_skips_exact(spark, sf_dir):
    """verify_recall=False must return the identical quantized ranking
    with a NULL in_exact column (the exact scan is skipped entirely)."""
    from pyspark.sql import functions as F

    from catlas_spark.operators.similarity import quantized_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 4)
    full = quantized_topk(emb, qs, k=3)
    prod = quantized_topk(emb, qs, k=3, verify_recall=False)
    a = sorted((r.q_id, r.n_id, r.sim_q, r.rank) for r in full.collect())
    rows = prod.collect()
    b = sorted((r.q_id, r.n_id, r.sim_q, r.rank) for r in rows)
    assert a == b
    assert all(r.in_exact is None for r in rows)


def test_pq_topk_invariants(spark, sf_dir):
    """Product-quantization ADC search: (a) every query emits exactly k
    ranked rows; (b) a corpus row that IS a codebook row encodes to its
    own centroid in every subspace (distance 0, deterministic); (c) the
    production path (verify_recall=False) returns the identical ranking
    with NULL in_exact; (d) recall is annotated and nonzero — PQ at 128x
    compression on this near-random corpus measures ~0.36, the honest
    hard case (structured embeddings do far better)."""
    from pyspark.sql import functions as F

    from catlas_spark.operators.similarity import _pq_subvectors, pq_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 5)
    out = pq_topk(emb, qs, k=5).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.q_id, []).append(r)
    assert set(by_q) == set(range(5))
    for rows in by_q.values():
        assert sorted(r.rank for r in rows) == [1, 2, 3, 4, 5]
        for r in rows:
            assert r.adc >= 0.0
    assert sum(r.in_exact for r in out) > 0

    prod = pq_topk(emb, qs, k=5, verify_recall=False).collect()
    assert sorted((r.q_id, r.n_id, r.rank) for r in prod) == sorted(
        (r.q_id, r.n_id, r.rank) for r in out
    )
    assert all(r.in_exact is None for r in prod)

    # codebook rows self-encode: replaying the operator's encode step for
    # vec_id < 16 must pick cid == vec_id in all 4 subspaces
    sub = _pq_subvectors(emb.filter(F.col("vec_id") < 16), 4, 16, "vec_id", "embedding", "n_id")
    cent = _pq_subvectors(
        emb.filter(F.col("vec_id") < 16), 4, 16, "vec_id", "embedding", "cid"
    ).select("cid", "s", F.col("sv").alias("cv"))
    from catlas_spark.operators.similarity import _pq_d4

    codes = (
        sub.join(F.broadcast(cent), "s")
        .select("n_id", "s", F.struct(_pq_d4("sv", "cv").alias("d4"), "cid").alias("dc"))
        .groupBy("n_id", "s")
        .agg(F.min("dc").getField("cid").alias("code"))
        .collect()
    )
    assert len(codes) == 16 * 4
    assert all(r.code == r.n_id for r in codes)


def test_kmeans_and_semantic_handle_shifted_id_space(spark):
    """Centroid init is the k SMALLEST ids, not filter(id < k): an id
    space starting above k used to yield zero centroids and a silent
    empty result (semantic_dedup then reported the whole corpus
    pruned)."""
    import pytest
    from pyspark.sql import functions as F

    from catlas_spark.operators.similarity import kmeans_lloyd, semantic_dedup

    e = spark.range(1000, 1040).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(8)),
            lambda i: (F.col("id") % 7 + i).cast("double"),
        ).alias("embedding"),
    )
    km = kmeans_lloyd(e, k=4, iters=1)
    assert km.count() > 0  # centroids exist despite ids >= k
    sd = semantic_dedup(e, k=4)
    assert sd.count() > 0  # survivors exist — corpus not silently pruned
    with pytest.raises(ValueError, match="iters"):
        kmeans_lloyd(e, k=4, iters=0)


def test_assignment_regimes_agree_on_nan_components(spark):
    """NaN/NULL COMPONENTS (not whole-NULL vectors) must not change
    answers across the assignment dispatch (r8, closing the r7 caveat):
    a poisoned centroid folds to NaN d2 against every vector — the JVM
    fold now nanvl-snaps that to NULL (never wins under NULLS LAST) and
    the Arrow argmin masks it (never a plain argmin, which propagates
    NaN); a poisoned corpus row takes the all-NULL-folds default on
    both paths. Covers a NULL component in a SEED, a NaN component in a
    SEED, and both flavors in corpus rows, through semantic_dedup AND
    both kmeans iterations (the centroid-update mean must also skip
    poisoned components identically — the Arrow serializer hands NULL
    elements back as NaN)."""
    from catlas_spark.operators.similarity import kmeans_lloyd, semantic_dedup

    nan = float("nan")
    rows = [
        (0, [1.0, None, 0.0]),  # NULL component in a seed (k=3 -> ids 0,1,2)
        (1, [nan, 0.0, 0.0]),  # NaN component in a seed
        (2, [0.0, 1.0, 0.0]),  # the only clean seed
        (3, [0.0, 2.0, 0.0]),  # cosine-dup of 2
        (4, [1.0, None, 3.0]),  # NULL component corpus row
        (5, [nan, 5.0, 1.0]),  # NaN component corpus row
        (6, [5.0, 0.0, 1.0]),
        (7, [0.0, 1.0, 0.1]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def run_sd(thresh):
        return sorted(
            (r.vec_id, r.cluster_id, r.n_cluster_members)
            for r in semantic_dedup(
                emb, k=3, tau=0.9, arrow_assign_from=thresh
            ).collect()
        )

    jvm, arrow = run_sd(10**9), run_sd(1)
    assert jvm == arrow and len(jvm) > 0
    kept = {v for v, _, _ in jvm}
    assert 2 in kept  # the clean seed's cluster keeps its keeper
    # poisoned rows assign to the default cluster as non-candidates on
    # BOTH paths; whether the scorer then drops them is its own spec
    # (NaN sims drop, matching the former join form) — parity is the
    # contract here, pinned by the equality above

    def run_km(thresh):
        return sorted(
            (r.cluster_id, r.n_members, r.inertia)
            for r in kmeans_lloyd(
                emb, k=3, iters=2, arrow_assign_from=thresh
            ).collect()
        )

    km_jvm, km_arrow = run_km(10**9), run_km(1)
    assert km_jvm == km_arrow and len(km_jvm) > 0


def test_two_level_assign_exact_parity_with_flat(spark):
    """The k>~100k regime: `two_level_assign` with probes = n_coarse
    probes every bucket, so the candidate set is complete and the
    result must EXACTLY equal `_jvm_assign` — including the parity zoo
    (NULL vector, NULL/NaN components, ragged lengths, a NULL seed and
    a ragged seed in the centroid table). The fine centroid table is
    never collected; only n_coarse coarse rows reach the driver."""
    from catlas_spark.operators.similarity import (
        _jvm_assign,
        _seed_centroids,
        two_level_assign,
    )

    nan = float("nan")
    corpus = spark.createDataFrame(
        [
            (10, [0.1, 0.2, 0.3]),
            (11, [5.0, 5.0, 5.0]),
            (12, [9.9, 9.0, 8.0]),
            (13, None),  # NULL vector -> smallest cid, NULL d2
            (14, [1.0, 2.0]),  # ragged -> competes only among 2-dim centroids
            (15, [nan, 1.0, 1.0]),  # NaN component -> all-NULL-folds default
            (16, [1.0, None, 1.0]),  # NULL component -> same
            (17, [4.9, 5.2, 5.1]),
        ],
        "vid long, v array<double>",
    )
    seeds = spark.createDataFrame(
        [
            (0, [0.0, 0.0, 0.0]),
            (1, [5.0, 5.0, 5.0]),
            (2, [10.0, 9.0, 8.0]),
            (3, None),  # NULL seed: never wins
            (4, [1.0, 2.0]),  # ragged seed: only 2-dim vectors reach it
            (5, [0.5, 0.5, nan]),  # poisoned seed: never wins
        ],
        "vid long, v array<double>",
    )
    centroids = _seed_centroids(seeds, 6)

    def norm(df):
        return sorted(
            (r.vid, r.cid, None if r.d2 is None else round(r.d2, 6))
            for r in df.select("vid", "cid", "d2").collect()
        )

    flat = norm(_jvm_assign(corpus, centroids))
    for n_coarse in (1, 2, 3, 6):
        two = norm(two_level_assign(corpus, centroids, n_coarse=n_coarse))
        assert two == flat, f"n_coarse={n_coarse}"
    # probes beyond n_coarse clamps (still exact)
    assert norm(two_level_assign(corpus, centroids, n_coarse=2, probes=99)) == flat


def test_two_level_assign_probe_pruning_on_separated_clusters(spark):
    """probes < n_coarse is the approximate scale regime: on
    well-separated data the nearest fine centroid lives in the nearest
    coarse bucket, so probes=1 already reproduces the exact assignment
    while scanning 1/n_coarse of the fine table per vector."""
    import pytest
    from pyspark.sql import functions as F

    from catlas_spark.operators.similarity import (
        _jvm_assign,
        two_level_assign,
    )

    # 4 tight clusters at corners; fine centroids = 2 per cluster, and
    # the coarse level (4 smallest cids = one per cluster by
    # construction) routes each pair to its own bucket
    base = {0: (0.0, 0.0), 1: (100.0, 0.0), 2: (0.0, 100.0), 3: (100.0, 100.0)}
    cent_rows = []
    for g, (x, y) in base.items():
        cent_rows.append((g, [x, y]))  # cids 0..3 become the coarse level
        cent_rows.append((4 + g, [x + 1.0, y + 1.0]))
    centroids = spark.createDataFrame(cent_rows, "cid long, c array<double>")
    corpus = spark.createDataFrame(
        [(i, [bx + 0.1 * i, by + 0.2]) for i, (bx, by) in enumerate(base.values())]
        + [(9, [101.2, 101.3])],
        "vid long, v array<double>",
    )

    def norm(df):
        return sorted((r.vid, r.cid) for r in df.select("vid", "cid").collect())

    flat = norm(_jvm_assign(corpus, centroids))
    pruned = norm(two_level_assign(corpus, centroids, n_coarse=4, probes=1))
    assert pruned == flat
    with pytest.raises(ValueError, match="probes"):
        two_level_assign(corpus, centroids, n_coarse=4, probes=0)
    with pytest.raises(ValueError, match="n_coarse"):
        two_level_assign(corpus, centroids, n_coarse=0)


def test_two_level_bucket_tiebreak_matches_flat(spark):
    """r8 diff review: cogroup delivers bucket centroids in shuffle
    order, so an unsorted argmin picked a nondeterministic cid on equal
    distances — the flat ORDER BY d2, cid picks the SMALLEST. Duplicate
    centroid vectors in one bucket pin it."""
    from catlas_spark.operators.similarity import _jvm_assign, two_level_assign

    corpus = spark.createDataFrame(
        [(100, [1.0, 1.0]), (101, [0.9, 1.1])], "vid long, v array<double>"
    )
    # cids deliberately out of order; vectors identical -> d2 ties
    centroids = spark.createDataFrame(
        [(7, [1.0, 1.0]), (3, [1.0, 1.0]), (5, [1.0, 1.0])],
        "cid long, c array<double>",
    )

    def norm(df):
        return sorted((r.vid, r.cid) for r in df.select("vid", "cid").collect())

    flat = norm(_jvm_assign(corpus, centroids))
    assert flat == [(100, 3), (101, 3)]  # smallest cid wins ties
    for n_coarse in (1, 3):
        assert norm(two_level_assign(corpus, centroids, n_coarse=n_coarse)) == flat


def test_two_level_assign_lazy_plans_runs_no_jobs_and_matches(spark):
    """ADVICE r8: under lazy_plans the probe collect in two_level_assign
    would re-execute the unpersisted centroids lineage (maybe_persist is
    a no-op there) for a plan nobody runs. The dispatch must build with
    ZERO Spark jobs in lazy mode — and the representative distributed
    plan it returns (cross-join probe + lazy default-cid patch) must
    still compute the exact flat answer when executed, including the
    NULL-vector default row the patch exists for."""
    from catlas_spark.caching import lazy_plans
    from catlas_spark.operators.similarity import (
        _jvm_assign,
        _seed_centroids,
        two_level_assign,
    )

    corpus = spark.createDataFrame(
        [
            (10, [0.1, 0.2]),
            (11, [5.0, 5.0]),
            (12, None),  # NULL vector -> smallest cid via the lazy patch
            (13, [4.9, 5.2]),
        ],
        "vid long, v array<double>",
    )
    seeds = spark.createDataFrame(
        [(2, [0.0, 0.0]), (4, [5.0, 5.0]), (6, [9.0, 9.0])],
        "vid long, v array<double>",
    )
    centroids = _seed_centroids(seeds, 3)

    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None))
    with lazy_plans():
        lazy_out = two_level_assign(corpus, centroids, n_coarse=2)
    after = len(tracker.getJobIdsForGroup(None))
    assert after == before, f"lazy_plans build ran {after - before} job(s)"

    def norm(df):
        return sorted(
            (r.vid, r.cid, None if r.d2 is None else round(r.d2, 6))
            for r in df.select("vid", "cid", "d2").collect()
        )

    flat = norm(_jvm_assign(corpus, centroids))
    assert norm(lazy_out) == flat
    # the NULL-vector default actually flowed through the lazy patch
    assert [t for t in flat if t[0] == 12] == [(12, 2, None)]


def test_blocked_cosine_pairs_matches_expression_form_on_zoo(spark):
    """blocked_cosine_pairs (r9 Arrow stage) must reproduce the
    expression form `round(try_divide(dot, na*nb), 4) >= thr` it
    replaced, on the full edge zoo — NULL vector, NULL component, zero
    norm, ragged lengths, NULL block — with ONE pinned deviation: a
    NaN-component pair is DROPPED, where the expression form kept it
    with a NaN sim that outranks every threshold (one poisoned vector
    near-dup-matching its whole block; the assignment regimes nanvl
    the same ordering away, r8). The expression form is reconstructed
    here as the independent oracle."""
    import math

    from pyspark.sql import functions as F

    from catlas_spark.functions.vector import dot, norm
    from catlas_spark.operators.similarity import blocked_cosine_pairs

    nan = float("nan")
    rows = [
        ("A", 1, [1.0, 0.0]),
        ("A", 2, [1.0, 0.1]),          # ~cos 0.995 with id 1 -> pair
        ("A", 3, None),                # NULL vector: no pairs
        ("A", 4, [1.0, None]),         # NULL component: no pairs (JVM NULL fold)
        ("A", 5, [nan, 1.0]),          # NaN component: pair KEPT, sim NaN
        ("A", 6, [0.0, 0.0]),          # zero norm: try_divide NULL -> dropped
        ("A", 7, [1.0, 0.0, 0.0]),     # ragged: scores only 3-dim mates (none)
        ("B", 8, [2.0, 0.0]),          # other block: never pairs with A
        ("B", 9, [2.0, 0.1]),
        (None, 10, [3.0, 0.0]),        # NULL block: inner-join semantics, no pairs
        (None, 11, [3.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "label string, vec_id long, v array<double>")

    thr = 0.9
    a = df.select(
        "label", F.col("vec_id").alias("id_a"), F.col("v").alias("va"),
        norm(F.col("v")).alias("na"),
    )
    b = df.select(
        "label", F.col("vec_id").alias("id_b"), F.col("v").alias("vb"),
        norm(F.col("v")).alias("nb"),
    )
    expected_df = (
        a.join(b, ["label"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.round(
                F.try_divide(dot(F.col("va"), F.col("vb")), F.col("na") * F.col("nb")), 4
            ).alias("sim"),
        )
        .filter(F.col("sim") >= thr)
    )
    actual_df = (
        blocked_cosine_pairs(df, "label", "vec_id", "v", threshold=thr)
        .select("id_a", "id_b", F.round("sim", 4).alias("sim"))
        .filter(F.col("sim") >= thr)
    )

    def norm_rows(frame):
        out = set()
        for r in frame.collect():
            s = r["sim"]
            out.add((r["id_a"], r["id_b"], "nan" if (s is not None and math.isnan(s)) else s))
        return out

    exp, act = norm_rows(expected_df), norm_rows(actual_df)
    # the pinned deviation: the expression form's NaN-kept pairs (all
    # involving the poisoned vector 5) are dropped by the Arrow stage
    nan_pairs = {t for t in exp if t[2] == "nan"}
    assert nan_pairs, "NaN-component pairs missing from the oracle form (vacuous zoo)"
    assert all(5 in t[:2] for t in nan_pairs)
    assert act == exp - nan_pairs
    # the zoo exercised a real surviving pair too
    assert any(t[:2] == (1, 2) for t in act)


def test_blocked_cosine_pairs_no_self_pairs_on_duplicate_ids(spark):
    """Duplicate ids in one block (review finding): the positional
    upper-triangle mask self-paired them; the strict value comparison
    must not. The expression form's id_a < id_b excludes a duplicated id
    in both directions."""
    from catlas_spark.operators.similarity import blocked_cosine_pairs

    df = spark.createDataFrame(
        [("A", 7, [1.0, 0.0]), ("A", 7, [1.0, 0.0]), ("A", 8, [1.0, 0.0])],
        "label string, vec_id long, v array<double>",
    )
    got = sorted(
        (r["id_a"], r["id_b"])
        for r in blocked_cosine_pairs(df, "label", "vec_id", "v", threshold=0.5).collect()
    )
    # 7-7 must not appear; both 7-rows pair with 8 (identical, dedup upstream's job)
    assert got == [(7, 8), (7, 8)]
