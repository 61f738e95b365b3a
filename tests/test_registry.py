"""Contracts of the query registry and the driver-window ordering —
the machinery the correctness gate itself depends on (ADVICE r2: no
hand-maintained allowlists, no permanent exemption from re-checking).
No SparkSession needed."""

from __future__ import annotations

import pytest

from catlas_spark.queries import _REGISTRY, _correctness_history, _ordered, oracle_sql, queries

WINDOW = 50  # the driver checks the first 50 queries() entries


def test_every_query_is_oracle_paired():
    q, o = queries(), oracle_sql()
    assert set(q) == set(o), "every registry entry must carry oracle SQL"
    assert len(q) == len(_REGISTRY)


def test_ordering_is_a_permutation_of_the_registry():
    assert sorted(_ordered()) == sorted(_REGISTRY)


def test_failures_and_new_queries_lead_the_driver_window(monkeypatch):
    """Synthetic-history form (r8 tautology hunt): against the repo's
    real artifacts both `failed` and `never` are EMPTY (all 172 green,
    all checked), so the old assertions reduced to set() <= window and
    an inverted rank key would have shipped silently. Inject a history
    with one failure and one never-checked query and assert their
    absolute positions."""
    import catlas_spark.queries as Q

    names_now = list(_REGISTRY)
    fail_name, green_names = names_now[5], names_now
    synthetic = {
        n: (3 if n != fail_name else 7, n != fail_name)
        for n in green_names
        if n != names_now[11]  # names_now[11] becomes never-checked
    }
    monkeypatch.setattr(Q, "_correctness_history", lambda: synthetic)
    Q._ORDERED_CACHE = None  # bust the memo (it keys on artifact mtimes)
    try:
        ordered = list(Q._ordered())
    finally:
        Q._ORDERED_CACHE = None
    # the failure leads everything, despite its RECENT round number
    assert ordered[0] == fail_name
    # the never-checked query precedes every green one
    assert ordered[1] == names_now[11]
    # greens follow in registry order (equal round, index tiebreak)
    greens = [n for n in names_now if n not in (fail_name, names_now[11])]
    assert ordered[2:] == greens


def test_window_contract_on_real_artifacts():
    # the original (now mostly-vacuous when everything is green) check
    # kept as a cheap invariant against the REAL artifacts
    names = list(queries())
    hist = _correctness_history()
    window = set(names[:WINDOW])
    failed = [n for n in names if n in hist and not hist[n][1]]
    never = [n for n in names if n not in hist]
    assert set(failed) <= window
    assert set(never[: WINDOW - len(failed)]) <= window


def test_verified_queries_rotate_least_recent_first():
    names = list(queries())
    hist = _correctness_history()
    rounds = [hist[n][0] for n in names if n in hist and hist[n][1]]
    # green queries appear in non-decreasing last-verified-round order,
    # so the oldest verification is always re-checked soonest
    assert rounds == sorted(rounds)


def test_register_rejects_duplicate_names():
    """r8 review: a copy-pasted @register name silently replaced the old
    query+oracle pair — both vanish together, so the oracle gate still
    passed. Duplicates now raise at import/definition time."""
    import pytest

    from catlas_spark.queries import register

    existing = next(iter(_REGISTRY))
    with pytest.raises(ValueError, match="duplicate"):
        @register(existing, "SELECT 1")
        def _dup(spark, sf_dir):  # pragma: no cover
            raise AssertionError


def test_schema_mismatch_counts_as_failed_in_history(tmp_path, monkeypatch):
    """r8 review: a schema-only driver failure (rows+hash green,
    schema_match false — e.g. a renamed output column) must rank as
    FAILED, not green, or the LRU ordering rotates the failing query to
    the back of the window instead of the front."""
    import json
    import os

    import catlas_spark.queries as Q

    art = {
        "pricing_summary": {
            "rows_match": True,
            "hash_match": True,
            "schema_match": False,
            "err": None,
        }
    }
    (tmp_path / "CORRECTNESS_r99.json").write_text(json.dumps(art))
    real_dirname = os.path.dirname

    monkeypatch.setattr(
        Q.os.path, "dirname", lambda p: str(tmp_path) if p.endswith("catlas_spark") else real_dirname(p)
    )
    hist = Q._correctness_history()
    assert hist["pricing_summary"] == (99, False)


# --- plan cache (prepared-statement semantics) guard ---------------------


def _fresh_plan_cache(monkeypatch):
    import catlas_spark.queries as Q

    monkeypatch.setattr(Q, "_PLAN_CACHE", {})
    monkeypatch.setattr(Q, "_PLAN_LAZY", {})
    return Q


def test_plan_cache_lazy_query_cached_and_still_executes(spark, sf_dir, monkeypatch):
    """A pure-plan-construction query is cached (second call returns the
    SAME plan object) — and executing the cached plan still launches real
    Spark jobs every time (metadata cached, compute never)."""
    Q = _fresh_plan_cache(monkeypatch)
    fn = Q.queries()["pricing_summary"]
    fn(spark, sf_dir)  # may absorb one-time table metadata jobs
    d1 = fn(spark, sf_dir)
    assert Q._PLAN_LAZY["pricing_summary"] is True
    d2 = fn(spark, sf_dir)
    assert d2 is d1
    j0 = Q._n_jobs(spark)
    d2.write.format("noop").mode("overwrite").save()
    assert Q._n_jobs(spark) > j0, "cached plan must still run the full compute"
    j1 = Q._n_jobs(spark)
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    assert Q._n_jobs(spark) > j1


def test_plan_cache_excludes_eager_compute(spark, sf_dir, monkeypatch):
    """A query whose builder fn launches jobs (persist+count
    materialization) must never be plan-cached — otherwise warm bench
    passes would skip its real work."""
    Q = _fresh_plan_cache(monkeypatch)
    fn = Q.queries()["dedup_minhash_lsh"]
    fn(spark, sf_dir)
    fn(spark, sf_dir)  # verdict is permanent on the SECOND eager sighting
    assert Q._PLAN_LAZY["dedup_minhash_lsh"] is False
    assert not any(k[2] == "dedup_minhash_lsh" for k in Q._PLAN_CACHE)


def test_plan_cache_excludes_conf_setting_query(spark, sf_dir, monkeypatch):
    """A builder that writes a plan-shaping conf on the session it was
    handed would change every later query of that profile (the session
    is shared): the call raises, naming the query, and the session is
    never handed out again, so the next query runs under its profile."""
    from catlas_spark.session import AUTOBROADCAST_BYTES

    Q = _fresh_plan_cache(monkeypatch)

    def conf_writer(session, sf_dir):
        session.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        return session.read.parquet(f"{sf_dir}/region.parquet")

    with pytest.raises(RuntimeError, match="__conf_writer__"):
        Q._wrap_plan_cached("__conf_writer__", conf_writer)(spark, sf_dir)
    assert not any(k[2] == "__conf_writer__" for k in Q._PLAN_CACHE)
    df = Q.queries()["pricing_summary"](spark, sf_dir)
    assert df.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold") == str(
        AUTOBROADCAST_BYTES
    )


def test_plan_cache_env_kill_switch(spark, sf_dir, monkeypatch):
    Q = _fresh_plan_cache(monkeypatch)
    monkeypatch.setenv("SPARK_GRAFT_PLAN_CACHE", "0")
    fn = Q.queries()["pricing_summary"]
    d1 = fn(spark, sf_dir)
    d2 = fn(spark, sf_dir)
    assert d2 is not d1
    assert Q._PLAN_CACHE == {}


def test_plan_cache_excludes_lazy_persist(spark, sf_dir, monkeypatch):
    """A builder that registers a persist WITHOUT materializing launches no
    jobs, but its CacheManager entry is stripped by clearCache between
    bench passes while the plan object lives on — so it must be excluded
    from the plan cache (third guard)."""
    Q = _fresh_plan_cache(monkeypatch)

    def lazy_persister(spark, sf_dir):
        df = spark.read.parquet(f"{sf_dir}/region.parquet").persist()
        # leave it registered: the caller would consume it twice
        return df.select("r_regionkey")

    wrapped = Q._wrap_plan_cached("__lazy_persister__", lazy_persister)
    out = wrapped(spark, sf_dir)
    out2 = wrapped(spark, sf_dir)
    try:
        assert Q._PLAN_LAZY["__lazy_persister__"] is False
        assert not any(k[2] == "__lazy_persister__" for k in Q._PLAN_CACHE)
    finally:
        spark.catalog.clearCache()


def _confs(session, keys) -> dict[str, str]:
    return {k: session.conf.get(k) for k in keys}


def test_n_jobs_counts_past_the_retained_job_limit(spark):
    """_n_jobs counts every job submitted, not the status store's job
    list, which Spark trims at spark.ui.retainedJobs (the trimmed list
    made the plan-cache laziness guard and its tests misjudge counts)."""
    import catlas_spark.queries as Q

    retained = int(spark.sparkContext.getConf().get("spark.ui.retainedJobs", "1000"))
    n = retained + 1
    jrdd = spark.range(1)._jdf.javaRDD()  # JVM-only: one job per count
    j0 = Q._n_jobs(spark)
    for _ in range(n):
        jrdd.count()
    assert Q._n_jobs(spark) - j0 == n


def test_tiny_exec_profile_results_match_default(spark, sf_dir, monkeypatch):
    """The small-input execution profile (AQE off, at most 8 shuffle
    partitions) must be a pure physical-regime change: each query's
    sorted rows under it equal those under the baseline profile (forced
    by a zero threshold). Covers shuffle-heavy lazy queries, the seeded
    samplers (Spark's rand(seed) depends on partition layout; the
    repo's hash-based sampling convention must not), the window family,
    and the eager dedup builders whose in-builder actions run under the
    profile."""
    Q = _fresh_plan_cache(monkeypatch)
    # fresh builds every call: a cached plan object keeps the physical
    # plan of its first execution
    monkeypatch.setenv("SPARK_GRAFT_PLAN_CACHE", "0")
    threshold = Q.SMALL_INPUT_BYTES
    for name in (
        "timeseries_gapfill",
        "grouped_topk",
        "union_distinct_keys",
        "stratified_sample",
        "train_test_split",
        "weighted_sample",
        "window_lag_lead",
        "dedup_minhash_lsh",
        "dedup_ngram_jaccard",
        "dedup_containment_banded",
        "incremental_dedup_memo",
        "dedup_containment",
    ):
        fn = Q.queries()[name]
        rows = {}
        for label, limit in (("small", threshold), ("baseline", 0)):
            monkeypatch.setattr(Q, "SMALL_INPUT_BYTES", limit)
            df = fn(spark, sf_dir)
            assert df.sparkSession.conf.get("spark.sql.adaptive.enabled") == str(
                label == "baseline"
            ).lower()
            rows[label] = sorted(map(tuple, df.collect()))
            # drop the materialized result so the next build cannot
            # read it back through a canonicalized-plan cache match
            del df
            spark.catalog.clearCache()
        assert rows["small"] == rows["baseline"], f"{name}: profile changed the result"


def test_one_profile_per_query(spark, sf_dir, monkeypatch):
    """Every registry query runs under ONE execution profile, the
    session its frame is built on: a lazy query's plan-cache miss and
    hit carry the same profile; an eager builder's in-builder actions
    and its final action run under the same profile; and a builder that
    sets confs on its session and then raises does not leak them into
    the next registry query."""
    import catlas_spark.operators.dedup as D

    Q = _fresh_plan_cache(monkeypatch)
    profile = Q._execution_profile(spark, sf_dir)
    # sf0.001 is far below the threshold: the small profile applies
    assert profile["spark.sql.adaptive.enabled"] == "false"

    # lazy query: miss (first sightings) and hit
    fn = Q.queries()["pricing_summary"]
    seen = []
    for _ in range(3):
        df = fn(spark, sf_dir)
        seen.append(_confs(df.sparkSession, profile))
    assert fn(spark, sf_dir) is df, "third call must be a plan-cache hit"
    assert seen == [profile] * 3

    # eager builder: the profile its in-builder actions run under
    in_builder = []
    real = D.materialize_and_release

    def spy(out, *caches):
        in_builder.append(_confs(out.sparkSession, profile))
        return real(out, *caches)

    monkeypatch.setattr(D, "materialize_and_release", spy)
    df = Q.queries()["dedup_minhash_lsh"](spark, sf_dir)
    assert in_builder == [profile]
    assert _confs(df.sparkSession, profile) == profile  # what its final action sees
    df.write.format("noop").mode("overwrite").save()
    del df

    # a builder that overrides confs on its session, then raises mid-build
    def raiser(session, sf_dir):
        session.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        session.conf.set("spark.sql.adaptive.enabled", "true")
        session.conf.set("spark.sql.shuffle.partitions", "3")
        raise RuntimeError("mid-build failure")

    with pytest.raises(RuntimeError, match="mid-build failure"):
        Q._wrap_plan_cached("__raiser__", raiser)(spark, sf_dir)
    df = Q.queries()["pricing_summary"](spark, sf_dir)
    assert _confs(df.sparkSession, profile) == profile


# the caller's session holds values no profile uses
_CALLER_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.shuffle.partitions": "3",
    "spark.sql.session.timeZone": "America/New_York",
    "spark.sql.autoBroadcastJoinThreshold": "1234567",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "5GB",
    "spark.sql.legacy.parquet.nanosAsLong": "false",
}


def test_registry_calls_leave_the_caller_session_untouched(spark, sf_dir, monkeypatch):
    """A registry call never writes the caller's session: after a
    plan-cache miss and hit, an eager builder and its final action,
    bloom_pruned_join, a builder that registers a temp view and a
    temporary function, and a builder that raises, the caller's confs,
    temp views and functions are what they were, and its own next join
    still plans adaptively. Each returned frame's session carries the
    query's profile."""
    Q = _fresh_plan_cache(monkeypatch)
    saved = {k: spark.conf.get(k, None) for k in _CALLER_CONFS}
    try:
        for k, v in _CALLER_CONFS.items():
            spark.conf.set(k, v)
        tables = sorted(t.name for t in spark.catalog.listTables())
        functions = sorted(f.name for f in spark.catalog.listFunctions())
        profile = Q._execution_profile(spark, sf_dir)
        qs = Q.queries()

        lazy = [qs["pricing_summary"](spark, sf_dir) for _ in range(3)]
        assert lazy[2] is lazy[1], "the third call must be a plan-cache hit"
        eager = qs["dedup_minhash_lsh"](spark, sf_dir)
        eager.write.format("noop").mode("overwrite").save()
        bloom = qs["bloom_pruned_join"](spark, sf_dir)
        bloom.collect()
        udf = qs["sql_scalar_udf"](spark, sf_dir)
        udf.collect()

        def raiser(session, sf_dir):
            session.read.parquet(f"{sf_dir}/region.parquet").createOrReplaceTempView(
                "raiser_view"
            )
            raise RuntimeError("mid-build failure")

        with pytest.raises(RuntimeError, match="mid-build failure"):
            Q._wrap_plan_cached("__raiser__", raiser)(spark, sf_dir)

        assert _confs(spark, _CALLER_CONFS) == _CALLER_CONFS
        assert sorted(t.name for t in spark.catalog.listTables()) == tables
        assert sorted(f.name for f in spark.catalog.listFunctions()) == functions
        join = spark.range(100).join(spark.range(100), "id")
        plan = join._jdf.queryExecution().executedPlan().toString()
        assert plan.startswith("AdaptiveSparkPlan"), plan

        for df in (*lazy, eager, udf):
            assert _confs(df.sparkSession, profile) == profile
        bloom_confs = {
            **profile,
            "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        }
        assert _confs(bloom.sparkSession, bloom_confs) == bloom_confs
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bloom_pruned_join_is_plan_cached(spark, sf_dir, monkeypatch):
    """bloom_pruned_join's overrides live on its own session, so its
    builder is pure plan construction: the second call is a plan-cache
    hit, and the cached plan still carries the runtime bloom filter."""
    import catlas_spark.queries as Q

    Q.queries()["bloom_pruned_join"](spark, sf_dir)  # reads its tables once
    Q = _fresh_plan_cache(monkeypatch)
    fn = Q.queries()["bloom_pruned_join"]
    df = fn(spark, sf_dir)
    assert fn(spark, sf_dir) is df
    assert Q._PLAN_LAZY["bloom_pruned_join"] is True
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "might_contain" in plan
    assert "bloom_filter_agg" in plan


def test_plan_cache_bypassed_under_lazy_plans(spark, sf_dir, monkeypatch):
    """Under the lazy_plans explain-only context, materializers are
    no-ops, so an eager builder reads as lazy — the cache must be
    bypassed entirely there (neither read nor write), or a later normal
    caller would receive the lazy-mode plan."""
    from catlas_spark.caching import lazy_plans

    Q = _fresh_plan_cache(monkeypatch)
    fn = Q.queries()["pricing_summary"]
    with lazy_plans():
        fn(spark, sf_dir)
        fn(spark, sf_dir)
    assert Q._PLAN_CACHE == {}
    assert "pricing_summary" not in Q._PLAN_LAZY
