"""Physical-plan regression tests: the optimizations the engine relies on
at 100 TB must stay visible in explain() output (SURVEY.md §4)."""

from __future__ import annotations

import contextlib
import io

import pytest

from catlas_spark import queries as Q


# One shared sweep for the whole module (r12, verdict item 1a): the old
# per-call plan_of re-built + re-explained each query, and the full-
# registry UDF guard alone paid ~170 serial explains (56 s measured).
# Plans are built ONCE, serially (builders may touch shared session
# state), then explained from a small thread pool — Catalyst planning is
# thread-safe and explain never executes. ~200 explains collapse to one
# ~15 s sweep shared by every test below.
_PLAN_TEXTS: dict[str, str] = {}


def _explain_text(df) -> str:
    # the string straight from the JVM (what df.explain prints): a
    # redirect_stdout capture is process-global, so concurrent explains
    # in the thread pool would interleave each other's output
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _all_plans(spark, sf_dir) -> dict[str, str]:
    if _PLAN_TEXTS:
        return _PLAN_TEXTS
    from concurrent.futures import ThreadPoolExecutor

    from catlas_spark.caching import lazy_plans

    # lazy_plans: operators that normally checkpoint-and-release their
    # caches return the full lazy tree instead of Scan ExistingRDD, so
    # the sweep inspects (and does NOT execute) the real plan — a Python
    # stage inside those operators stays visible to the whitelist guard
    with lazy_plans():
        qs = Q.queries()
        dfs = {name: fn(spark, sf_dir) for name, fn in qs.items()}
        with ThreadPoolExecutor(max_workers=8) as ex:
            for name, text in zip(
                dfs, ex.map(_explain_text, dfs.values())
            ):
                _PLAN_TEXTS[name] = text
    return _PLAN_TEXTS


def plan_of(spark, sf_dir, name: str) -> str:
    return _all_plans(spark, sf_dir)[name]


def test_filter_pushdown_and_pruning(spark, sf_dir):
    p = plan_of(spark, sf_dir, "filter_range")
    assert "GreaterThanOrEqual(p_retailprice,500.0)" in p  # predicate → scan
    assert "p_brand" not in p.split("ReadSchema")[1].splitlines()[0]  # pruned


def test_dim_joins_broadcast(spark, sf_dir):
    p = plan_of(spark, sf_dir, "join_revenue_per_nation")
    assert p.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in p


def test_topn_avoids_global_sort(spark, sf_dir):
    p = plan_of(spark, sf_dir, "orderby_limit_topn")
    assert "TakeOrderedAndProject" in p


def test_agg_is_partial_then_final(spark, sf_dir):
    p = plan_of(spark, sf_dir, "pricing_summary")
    assert p.count("HashAggregate") >= 2  # map-side combine present


def test_semi_anti_join_strategies(spark, sf_dir):
    assert "LeftSemi" in plan_of(spark, sf_dir, "semi_join_customers_with_orders")
    assert "LeftAnti" in plan_of(spark, sf_dir, "anti_join_customers_without_orders")


# the ONLY queries allowed to carry a Python stage: the multimodal
# decoders and the custom-mergeable-sketch exemplar (Arrow-batched
# MapInPandas), the SemDeDup pairwise scorer (Arrow applyInPandas —
# the engine's one vectorized-Python arithmetic stage, bit-exact
# dim-sequential numpy fold), plus the native Spark-4 UDTF exemplar
# (Arrow-enabled UDTF) — never row-at-a-time EvalPython anywhere
MAPINPANDAS_QUERIES = (
    "multimodal_decode",
    "multimodal_frame_sample",
    "multimodal_resize",
    "multimodal_audio_energy",
    "misra_gries_contract",
)
# dedup_embedding_cosine and the CC queries built on its pair list
# moved to the blocked_cosine_pairs Arrow stage in r9 (the semantic_dedup
# scorer convention: pairwise float arithmetic is the engine's
# designated vectorized-Python stage; the interpreted higher-order
# aggregate join form measured 1.9 s vs 0.8 s at sf0.1)
GROUPED_PANDAS_QUERIES = (
    "dedup_semantic",
    "dedup_embedding_cosine",
    "dedup_cluster_assign",
)
UDTF_QUERIES = ("rle_tokens_udtf",)
PYTHON_STAGE_QUERIES = MAPINPANDAS_QUERIES + GROUPED_PANDAS_QUERIES + UDTF_QUERIES


def test_no_python_udf_in_native_queries(spark, sf_dir):
    # everything else must stay JVM-side: no BatchEvalPython /
    # ArrowEvalPython (scalar UDFs) and no pandas stages either — the
    # bare "InPandas" probe catches MapInPandas AND FlatMapGroupsInPandas
    # (a grouped stage slipping in unlisted used to pass the old
    # "MapInPandas" substring check — tautology-hunt fix, round 7).
    # A new Python stage must be added to the explicit whitelist above.
    for name in Q.queries():
        if name in PYTHON_STAGE_QUERIES:
            continue
        p = plan_of(spark, sf_dir, name)
        assert "EvalPython" not in p, f"{name} fell off the JVM path"
        assert "InPandas" not in p, f"{name} grew an unlisted Python stage"


def test_semantic_scorer_is_arrow_grouped(spark, sf_dir):
    for name in GROUPED_PANDAS_QUERIES:
        p = plan_of(spark, sf_dir, name)
        assert "FlatMapGroupsInPandas" in p  # Arrow per-cluster batches
        assert "BatchEvalPython" not in p


def test_multimodal_is_arrow_batched(spark, sf_dir):
    for name in MAPINPANDAS_QUERIES:
        p = plan_of(spark, sf_dir, name)
        assert "MapInPandas" in p  # Arrow batch, not row-at-a-time UDF
        assert "BatchEvalPython" not in p


def test_udtf_is_arrow_enabled(spark, sf_dir):
    for name in UDTF_QUERIES:
        p = plan_of(spark, sf_dir, name)
        assert "ArrowEvalPythonUDTF" in p  # Arrow batch, not pickle rows
        assert "BatchEvalPython" not in p


def test_bloom_filter_join_pruning(spark, sf_dir):
    # the selective orders predicate must inject a might_contain() probe
    # into the lineitem side (Catalyst InjectRuntimeFilter)
    df = Q.queries()["bloom_pruned_join"](spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "might_contain" in plan
    assert "bloom_filter_agg" in plan
    # the override is scoped: the next query's entry restores the
    # broadcast default
    Q.queries()["join_revenue_per_nation"](spark, sf_dir)
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == "10485760"


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """Hive-partitioned layout + a partition-column predicate must prune
    at planning time: the scan lists only matching directories (at 100 TB
    the date partition is the first-line data-skipping mechanism)."""
    out = str(tmp_path / "orders_by_status")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    orders.write.partitionBy("o_orderstatus").mode("overwrite").parquet(out)

    df = spark.read.parquet(out).filter("o_orderstatus = 'F'")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "PartitionFilters: [isnotnull(o_orderstatus" in p
    # the pruned scan must not carry the predicate as a data filter
    expected = orders.filter("o_orderstatus = 'F'").count()
    assert df.count() == expected


def test_salted_join_shuffles_on_salted_key(spark, sf_dir):
    """salted_skew_join must actually shuffle on (key, salt): a shuffled
    hash join (dim side is replicate-cheap by contract, so it always
    fits a per-partition hash map and the fact-side sort is skipped)
    whose keys include the salt column, no broadcast of the replicated
    dim (replication is pointless under broadcast)."""
    p = plan_of(spark, sf_dir, "salted_skew_join")
    assert "ShuffledHashJoin" in p
    assert "BroadcastHashJoin" not in p
    assert "__salt" in p
    keys_line = next(l for l in p.splitlines() if l.startswith("Left keys"))
    assert "l_suppkey" in keys_line and "__salt" in keys_line


def test_sliding_window_single_shuffle(spark, sf_dir):
    """The sliding-window aggregate expands windows map-side (Expand or
    Generate before the exchange) and aggregates with a partial/final
    pair — one shuffle total."""
    p = plan_of(spark, sf_dir, "events_sliding_window")
    # tree form "Exchange (n)" counts physical exchanges once; the
    # formatted detail section repeats each as "(n) Exchange"
    assert p.count("Exchange (") == 1
    assert "HashAggregate" in p


def test_interval_join_is_hash_not_nested_loop(spark, sf_dir):
    # the bucket-expansion rewrite must keep the range join a hash join;
    # a BroadcastNestedLoopJoin here means the equi bucket key was lost
    # and the plan degraded to the O(points x intervals) cartesian
    p = plan_of(spark, sf_dir, "interval_bucket_join")
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p or "SortMergeJoin" in p


def test_broadcast_threshold_sensitivity(spark, sf_dir):
    """The same logical join must flip BroadcastHashJoin <-> SortMergeJoin
    purely on spark.sql.autoBroadcastJoinThreshold, with identical results
    — the knob a 100 TB deployment tunes per dimension-table size, so a
    regression here (e.g. a stray hint pinning one strategy) would silently
    force shuffle joins at scale."""
    from pyspark.sql import functions as F

    def build():
        # fresh DataFrame per phase: an executed DF pins its (adaptive)
        # final plan, so conf changes would not re-plan it
        cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
        nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
        return (
            cust.join(nat, cust["c_nationkey"] == nat["n_nationkey"])
            .groupBy("n_name")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    def run():
        import contextlib
        import io

        df = build()
        rows = sorted((r.n_name, r.n) for r in df.collect())
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")  # post-run: shows the AQE final plan
        return buf.getvalue(), rows

    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",  # AQE re-broadcast knob
    )
    old = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k in keys:
            spark.conf.set(k, str(10 * 1024 * 1024))
        p_bc, rows_bc = run()
        for k in keys:
            spark.conf.set(k, "-1")
        p_smj, rows_smj = run()
    finally:
        for k, v in old.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)

    assert "BroadcastHashJoin" in p_bc and "SortMergeJoin" not in p_bc
    assert "SortMergeJoin" in p_smj and "BroadcastHashJoin" not in p_smj
    assert rows_bc == rows_smj and rows_bc


def test_lazy_plans_registers_no_cache_entries(spark, sf_dir):
    """ADVICE r5: under lazy_plans() materialize_and_release never
    unpersists, so an unconditional .persist() inside a query would
    leave a canonicalized-plan CacheManager entry that a LATER query
    deriving the same subtree silently hits. Every persist on that
    release path must go through caching.maybe_persist, which is a
    no-op in lazy mode — building these plans must register nothing."""
    from catlas_spark.caching import lazy_plans

    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    with lazy_plans():
        for name in ("skyline_pareto", "set_containment_prefix", "lm_quality_score"):
            Q.queries()[name](spark, sf_dir)  # build only; no action
    assert cm.isEmpty(), "lazy_plans left CacheManager entries behind"


def test_keep_alive_prevents_premature_cache_release(spark):
    """r8: a frame DERIVED from a materialize_and_release output must
    not lose the materialized cache when the operator output's local
    name dies — unless the derived frame holds the entry
    (caching.hold), the entry is released at function return and the
    caller's action silently recomputes the whole pipeline (caught at
    the 100x triangle stress: ten extra jobs re-running the 60M-row
    pair build)."""
    import gc

    from pyspark.sql import functions as F

    from catlas_spark.caching import hold, materialize_and_release

    cm = spark._jsparkSession.sharedState().cacheManager()

    def make_derived(tie):
        big = spark.range(0, 100_000).select(
            (F.col("id") % 97).alias("k"), F.col("id").alias("v")
        )
        out = materialize_and_release(
            big.groupBy("k").agg(F.sum("v").alias("s"))
        )
        derived = out.select("k", (F.col("s") * 2).alias("s2"))
        return hold(derived, out) if tie else derived

    # untied: released once the operator-local wrapper, its only holder, dies
    d = make_derived(tie=False)
    gc.collect()
    assert cm.isEmpty(), "expected the untied cache to be released on GC"
    d.count()  # recomputes, still correct — just wasteful

    # tied: the cache must survive until the DERIVED frame dies
    d = make_derived(tie=True)
    gc.collect()
    assert not cm.isEmpty(), "hold failed: cache released early"
    d.count()  # served from the surviving cache
    del d
    gc.collect()
    assert cm.isEmpty(), "cache must still release once the derived frame dies"


def test_rerun_while_holding_the_previous_result_keeps_its_cache(spark, sf_dir):
    """A caller that holds a query's result, re-runs the query and then
    drops the OLD frame: both results share one CacheManager entry (the
    CacheManager matches by canonicalized plan), and dropping the old
    holder must not uncache the new result — its write is one job over
    the cached output, not a recompute of the whole pipeline."""
    import gc

    cm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    fn = Q.queries()["dedup_minhash_lsh"]
    df = fn(spark, sf_dir)
    df = fn(spark, sf_dir)  # rebinding drops the older result
    gc.collect()
    jobs = Q._n_jobs(spark)
    df.write.format("noop").mode("overwrite").save()
    assert Q._n_jobs(spark) - jobs == 1
    assert "InMemoryTableScan" in df._jdf.queryExecution().executedPlan().toString()
    del df
    gc.collect()
    assert cm.isEmpty(), "the entry must go with its last holder"


def test_releasing_an_intermediate_keeps_a_held_entry(spark):
    """A held materialize_and_release output survives a LATER
    materialization that persists the same plan as an intermediate and
    releases it: the release is a no-op while a holder is alive."""
    import gc

    from pyspark.sql import functions as F

    from catlas_spark.caching import materialize_and_release, maybe_persist

    cm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()

    def sums():
        return (
            spark.range(0, 10_000)
            .select((F.col("id") % 13).alias("k"), F.col("id").alias("v"))
            .groupBy("k")
            .agg(F.sum("v").alias("s"))
        )

    held = materialize_and_release(sums())
    rows = sorted(held.collect())
    inter = maybe_persist(sums())
    other = materialize_and_release(inter.filter(F.col("k") < 5), inter)
    del inter, other
    gc.collect()
    assert cm.lookupCachedData(held._jdf).isDefined(), "held entry was released"
    assert sorted(held.collect()) == rows
    assert "InMemoryTableScan" in held._jdf.queryExecution().executedPlan().toString()
    del held
    gc.collect()
    assert cm.isEmpty()


def test_lazy_plans_exit_keeps_a_held_entry(spark):
    """A pin under lazy_plans whose plan matches a held
    materialize_and_release output shares that output's CacheManager
    entry; the context exit releases the pin, which must leave the
    held entry cached."""
    import gc

    from pyspark.sql import functions as F

    from catlas_spark.caching import lazy_plans, materialize_and_release, pin

    cm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()

    def sums():
        return (
            spark.range(0, 10_000)
            .select((F.col("id") % 11).alias("k"), F.col("id").alias("v"))
            .groupBy("k")
            .agg(F.sum("v").alias("s"))
        )

    x = materialize_and_release(sums())
    with lazy_plans():
        pin(sums())
    gc.collect()
    assert cm.lookupCachedData(x._jdf).isDefined(), "lazy pin exit released a held entry"
    assert x.count() == 11
    assert "InMemoryTableScan" in x._jdf.queryExecution().executedPlan().toString()
    del x
    gc.collect()
    assert cm.isEmpty()


@pytest.mark.parametrize("fails_at", ["build", "action"])
def test_builder_raising_mid_build_leaves_no_cache_or_conf(
    spark, sf_dir, monkeypatch, fails_at
):
    """A registry builder whose operator raises after its maybe_persist
    — while building the plan, or in its materializing action — leaves
    no CacheManager entry behind, and a conf it wrote on its session does
    not reach the next registry query, which runs under its own
    profile."""
    from pyspark.sql import functions as F

    import catlas_spark.operators.dedup as D

    cm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    monkeypatch.setattr(Q, "_PLAN_CACHE", {})
    monkeypatch.setattr(Q, "_PLAN_LAZY", {})
    profile = Q._execution_profile(spark, sf_dir)
    sessions = []
    real_pairs = D.minhash_lsh_pairs

    def pairs(df, *args, **kwargs):
        sessions.append(df.sparkSession)
        return real_pairs(df, *args, **kwargs)

    def failing_verify(a, b):
        sessions[-1].conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        if fails_at == "build":
            raise RuntimeError("verify failed")
        return F.raise_error(F.lit("verify failed"))

    monkeypatch.setattr(D, "minhash_lsh_pairs", pairs)
    monkeypatch.setattr(D, "_hashed_jaccard", failing_verify)
    with pytest.raises(Exception, match="verify failed"):
        Q.queries()["dedup_minhash_lsh"](spark, sf_dir)
    assert cm.isEmpty(), "a failed build left a cache entry behind"
    df = Q.queries()["pricing_summary"](spark, sf_dir)
    assert {k: df.sparkSession.conf.get(k) for k in profile} == profile


def test_materialize_and_release_releases_on_error(spark):
    """r8 review: a failed materializing count must not leave the output
    persisted with no finalizer (the stale-canonicalized-plan hazard)
    nor keep the upstream caches pinned — both unpersist on the error
    path, and the error propagates."""
    import pytest
    from pyspark.sql import functions as F
    from pyspark.sql.utils import AnalysisException

    from catlas_spark.caching import materialize_and_release, maybe_persist

    jcache = spark._jsparkSession.sharedState().cacheManager()
    assert jcache.isEmpty(), "test needs a clean CacheManager"

    upstream = maybe_persist(spark.range(5).select(F.col("id").alias("x")))
    bad = upstream.select(
        F.raise_error(F.lit("boom")).alias("y")
    )
    with pytest.raises(Exception, match="boom"):
        materialize_and_release(bad, upstream)
    assert jcache.isEmpty(), "error path must unpersist output AND caches"


# Two single-core executors: the pinned frame's first task wave puts one
# block on each, so losing executor "0" loses part of every pinned layout.
_EXECUTOR_LOSS_SCRIPT = """
import json, os, sys, time
from pyspark.sql import SparkSession
from catlas_spark.caching import pin

spark = (
    SparkSession.builder.master("local-cluster[2,1,1024]")
    .config("spark.ui.enabled", "false")
    .config("spark.ui.showConsoleProgress", "false")
    .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    .getOrCreate()
)
sc = spark.sparkContext._jsc.sc()

def wait_for(n_blockmanagers):  # executors plus the driver's
    deadline = time.time() + 120
    while sc.getExecutorMemoryStatus().size() != n_blockmanagers:
        assert time.time() < deadline, "executors did not come up / go away"
        time.sleep(0.2)

def rows(df):
    try:
        return list(df.selectExpr("count(*)", "sum(v)").collect()[0])
    except Exception:
        return "raised"

wait_for(3)
df = spark.range(0, 10000, numPartitions=8).selectExpr("id", "id * 3 AS v")
local = pin(df)
os.environ["SPARK_GRAFT_CHECKPOINT_DIR"] = sys.argv[1]
reliable = pin(df)
sc.killExecutor("0")
wait_for(2)
print(json.dumps({"local": rows(local), "reliable": rows(reliable)}))
spark.stop()
"""


def test_pin_survives_or_fails_loudly_on_executor_loss(tmp_path):
    """Executor loss under ``pin``: a localCheckpoint (the default) loses
    the dead executor's blocks and the next action RAISES; a reliable
    checkpoint (SPARK_GRAFT_CHECKPOINT_DIR) returns the correct rows.
    Neither returns wrong rows: pinned layouts must not change placement
    between passes, so a silent answer from lost blocks is ruled out."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CHECKPOINT_DIR"}
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [repo, env.get("PYTHONPATH")]))
    proc = subprocess.run(
        [sys.executable, "-c", _EXECUTOR_LOSS_SCRIPT, str(tmp_path / "ckpt")],
        cwd=repo, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    want = [10000, 3 * sum(range(10000))]
    assert got == {"local": "raised", "reliable": want}


def test_rle_udtf_tokenization_matches_oracle_on_fringed_text():
    """r8 unification: the UDTF's ASCII strip now matches the ORACLE's
    regex strip (the old oracle used SQL trim — U+0020 only — so a
    leading tab shifted every run_idx vs the UDTF)."""
    import duckdb
    import pandas as pd

    from catlas_spark.operators.udtfs import RunLengthTokens

    zoo = ["\tfoo foo bar", "x y y\n", "a\x0Ba a", "  b  b  "]
    con = duckdb.connect()
    con.register("docs", pd.DataFrame({"doc_id": range(len(zoo)), "text": zoo}))
    ws = "[ \\t\\n\\x0B\\f\\r]"
    norm = (
        f"regexp_replace(lower(regexp_replace(text, '^{ws}+|{ws}+$', '', 'g')), "
        f"'{ws}+', ' ', 'g')"
    )
    want = {}
    for doc_id, toks in con.execute(
        f"SELECT doc_id, string_split({norm}, ' ') FROM docs"
    ).fetchall():
        runs, i, idx = [], 0, 0
        while i < len(toks):
            j = i
            while j < len(toks) and toks[j] == toks[i]:
                j += 1
            if j - i >= 2:
                runs.append((idx, toks[i], j - i))
            idx += 1
            i = j
        want[doc_id] = runs
    # @udtf wraps the class; the raw implementation is .func
    impl = RunLengthTokens.func
    got = {i: list(impl().eval(t)) for i, t in enumerate(zoo)}
    assert got == want


def test_events_scan_restores_per_query_conf_overrides(spark, sf_dir):
    """r8 harness review: events-only queries restored neither the
    broadcast threshold nor the bloom scan-size threshold, so
    bloom_pruned_join's plan overrides leaked into whatever events query
    the LRU window placed after it (identical results, drifted timings —
    invisible to the oracle gate). The overrides now live on
    bloom_pruned_join's own session: the events-only query that follows
    it runs under the baseline thresholds."""
    from catlas_spark import queries as Q
    from catlas_spark.session import AUTOBROADCAST_BYTES

    bloom = Q.queries()["bloom_pruned_join"](spark, sf_dir)
    assert bloom.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold") == "-1"
    ev = Q.queries()["rolling_active_users"](spark, sf_dir)  # reads only events
    assert ev.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold") == str(
        AUTOBROADCAST_BYTES
    )
    assert (
        ev.sparkSession.conf.get(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        )
        == "10GB"
    )
