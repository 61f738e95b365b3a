"""Query registry: every operator from SURVEY.md §2 as a named query over
the driver star schema, paired with a DuckDB-runnable oracle SQL string.

Each entry maps an operator (or operator cluster) of the reference to its
idiomatic Spark expression; the oracle is the ANSI-SQL ground truth the
driver runs side-by-side at sf=0.01 (CORRECTNESS gate).

Determinism rules used throughout:
- every float output is `round(x, 4)` on BOTH sides;
- every window order includes explicit tiebreak columns;
- timestamps are emitted as formatted strings (session TZ pinned UTC).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .caching import is_materializing, maybe_persist, run_builder
from .session import AUTOBROADCAST_BYTES, SPLIT_BYTES
from .operators.dedup import MINHASH_P, minhash_coeffs
from .operators.relational import (
    best_within_relative_threshold,
    group_exists_mark,
    grouped_min_argmin,
    grouped_topk,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

# registry: name -> (spark_fn, oracle_sql | None)
_REGISTRY: dict[str, tuple[QueryFn, str | None]] = {}


def register(name: str, oracle: str | None):
    def deco(fn: QueryFn) -> QueryFn:
        # duplicate guard (r8 review): a copy-pasted name silently
        # REPLACED the old query+oracle pair — both vanish together, so
        # the oracle gate still passes and only a manual count reveals it
        if name in _REGISTRY:
            raise ValueError(f"duplicate registry query name: {name!r}")
        _REGISTRY[name] = (fn, oracle)
        return fn

    return deco


def _correctness_history() -> dict[str, tuple[int, bool]]:
    """name -> (round last driver-checked, passed that check), derived from
    the CORRECTNESS_r*.json artifacts the driver writes at the repo root.

    Derived, never hand-maintained: a renamed or deleted query simply has
    no registry entry to order, and a stale name in an old artifact is
    ignored — there is no allowlist to go out of date.
    """
    import glob
    import json
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    hist: dict[str, tuple[int, bool]] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"r(\d+)", os.path.basename(path))
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        for name, row in data.items():
            ok = (
                bool(row.get("rows_match"))
                and bool(row.get("hash_match"))
                # schema_match too (r8 review): a renamed output column
                # passes rows+hash (the value hash ignores names) but
                # FAILS the driver — ranking it green rotated it to the
                # BACK of the window, deprioritizing exactly the failing
                # query. Missing field (old artifacts) counts as true.
                and bool(row.get("schema_match", True))
                and row.get("err") is None
            )
            # MAX parsed round wins — lexicographic file order would let
            # r11 shadow r100 once rounds reach three digits
            if name not in hist or rnd >= hist[name][0]:
                hist[name] = (rnd, ok)
    return hist


_ORDERED_CACHE: tuple[tuple[float, ...], dict] | None = None


def _ordered() -> dict[str, tuple[QueryFn, str | None]]:
    """Registry in least-recently-verified-first order. The driver's
    correctness window covers the first 50 entries, so: queries whose last
    driver check FAILED (or errored) come first, then never-checked ones,
    then green ones ordered by how long ago they were verified. Every
    query therefore re-enters the window periodically (LRU rotation) —
    nothing is permanently exempt from re-verification, and regressions in
    previously-green queries surface within a couple of rounds.

    Memoized per (artifact mtimes, registry size): every call used to
    re-glob and re-parse EVERY round's CORRECTNESS artifact — stress.py
    calls queries() inside its per-query loop, and the artifact set grows
    one file per round (r8 review)."""
    global _ORDERED_CACHE
    import glob

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    key = tuple(
        sorted(
            (p, os.path.getmtime(p))
            for p in glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))
        )
    ) + (len(_REGISTRY),)
    if _ORDERED_CACHE is not None and _ORDERED_CACHE[0] == key:
        return _ORDERED_CACHE[1]
    hist = _correctness_history()

    def rank(item: tuple[int, str]) -> tuple[int, int]:
        idx, name = item
        last_round, ok = hist.get(name, (0, True))
        return ((last_round if ok else -1), idx)

    order = sorted(enumerate(_REGISTRY), key=rank)
    out = {name: _REGISTRY[name] for _, name in order}
    _ORDERED_CACHE = (key, out)
    return out


# Query-plan cache (prepared-statement semantics) -------------------------
#
# The Python DataFrame API builds a logical plan one py4j round-trip per
# expression: a typical registry query costs 20-130 ms of pure driver-side
# plan construction PER INVOCATION — ~15-25 s across a 172-query pass,
# re-deriving a plan that is bit-identical every time (same query text,
# same tables). Real engines amortize this with a prepared-statement /
# plan cache; this is that cache. Like _TABLE_CACHE below it holds
# METADATA ONLY — the immutable lazy plan object, never rows, never
# results — so every execution still runs the full distributed compute.
#
# Honesty guard (machine-checked, not hand-labeled): a query is only
# cacheable if its builder fn is PURE plan construction. On first call we
# (a) count Spark jobs submitted — any fn that eagerly computes
# (persist+count materialization, stats collects, streaming runs)
# launches jobs and is permanently excluded, so its work can never
# be skipped on a later pass; (b) snapshot the plan-shaping confs of the
# session the fn was handed — that session is its profile's, shared by
# every query with the same profile, so a conf the fn writes there would
# outlive the query: the call raises, naming the query, and the session
# is dropped so no later query is handed it (a query that needs other
# confs declares them and builds on their own session, as
# bloom_pruned_join does); and (c) count CacheManager entries — a fn
# that registers a persist without materializing is excluded
# (clearCache between passes would strip the registration out from
# under the cached plan). Keys include the session, so a cached plan
# never crosses profiles. tests/test_registry.py locks all three paths.
# SPARK_GRAFT_PLAN_CACHE=0 disables the cache entirely (A/B lever).
_PLAN_CACHE: dict[tuple[str, str, str, SparkSession], DataFrame] = {}
_PLAN_LAZY: dict[str, bool] = {}

# Execution profile: ONE per query, picked at its registry entry (the
# first statement of wrapped() below, on every path) by
# _execution_profile. Evidence: the total size of the input directory —
# known before any builder runs (eager builders act INSIDE the build)
# and an upper bound on every query's input, which a cross join's output
# estimate is not. Below SMALL_INPUT_BYTES: AQE off (its per-exchange
# re-planning adds a job per query stage, pure cost on a few-MB input)
# and a shuffle width of at most SMALL_INPUT_PARTITIONS, never wider
# than the baseline. Otherwise, and under lazy_plans (explain tooling
# sees the scale shape), the baseline: AQE on, one shuffle partition
# per core.
# The profile is a session: a child of the caller's (spark.newSession():
# same SparkContext and CacheManager, its own confs, temp views and
# functions), created once per application and profile with the
# baseline confs plus the profile (_profile_session), and handed to the
# builder. Every frame the builder returns plans and runs under its
# profile, through the caller's final action too, and no registry call
# writes the caller's session.
SMALL_INPUT_BYTES = 64 * 1024 * 1024
SMALL_INPUT_PARTITIONS = 8
_INPUT_BYTES: dict[tuple[str, str], int] = {}
_SESSIONS: dict[tuple[str, frozenset], SparkSession] = {}

_GUARD_CONFS = (
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.optimizer.runtime.bloomFilter.enabled",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
    "spark.sql.shuffle.partitions",
    "spark.sql.files.maxPartitionBytes",
    "spark.sql.adaptive.enabled",
)


def _plan_cache_enabled() -> bool:
    return os.environ.get("SPARK_GRAFT_PLAN_CACHE", "1").lower() not in (
        "0",
        "false",
        "no",
    )


def _n_jobs(spark: SparkSession) -> int:
    # jobs ever submitted, any job group included (streaming
    # micro-batches, which statusTracker(None) misses); the status
    # store's job list is no count — Spark trims it at
    # spark.ui.retainedJobs
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def _n_cache_entries(spark: SparkSession) -> int:
    # a builder that registers a persist (maybe_persist without a
    # materializing count) is lazy by the job guard, but its CacheManager
    # registration would be stripped by the harness's clearCache between
    # passes while the cached plan object lives on — executing with a
    # different (uncached) profile than a fresh build. Such plans are
    # excluded from the plan cache.
    return spark._jsparkSession.sharedState().cacheManager().cachedData().size()


def _wrap_plan_cached(name: str, fn: QueryFn) -> QueryFn:
    import functools

    @functools.wraps(fn)
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        # the query's one execution profile, on every path below
        spark = _profile_session(spark, _execution_profile(spark, sf_dir))
        # Inside lazy_plans (explain-only tooling) every materializer is
        # a no-op, so an EAGER builder would read as lazy and its
        # lazy-mode plan would be cached for later NORMAL callers —
        # bypass the cache entirely there (neither read nor write).
        if not _plan_cache_enabled() or not is_materializing():
            return run_builder(fn, spark, sf_dir)
        key = (spark.sparkContext.applicationId, sf_dir, name, spark)
        df = _PLAN_CACHE.get(key)
        if df is not None:
            return df
        state = _PLAN_LAZY.get(name)
        if state is False:
            return run_builder(fn, spark, sf_dir)
        jobs_before = _n_jobs(spark)
        caches_before = _n_cache_entries(spark)
        conf_before = [spark.conf.get(k, None) for k in _GUARD_CONFS]
        try:
            df = run_builder(fn, spark, sf_dir)
        finally:
            wrote = [
                k
                for k, v in zip(_GUARD_CONFS, conf_before)
                if spark.conf.get(k, None) != v
            ]
            if wrote:
                for k in [k for k, v in _SESSIONS.items() if v is spark]:
                    del _SESSIONS[k]
        if wrote:
            raise RuntimeError(
                f"registry query {name!r} wrote {wrote} on its shared profile "
                "session; declare the confs it needs on a session of its own"
            )
        if _n_jobs(spark) == jobs_before and _n_cache_entries(spark) == caches_before:
            _PLAN_LAZY[name] = True
            _remember(_PLAN_CACHE, key, df)
        else:
            # the FIRST read of a table launches a one-time metadata/
            # listing job that would misflag a lazy query, so an eager
            # observation only becomes a permanent verdict on the second
            # consecutive sighting (by then every table plan is memoized
            # in _TABLE_CACHE and a pure builder launches nothing)
            n_eager = (state or 0) + 1
            _PLAN_LAZY[name] = False if n_eager >= 2 else n_eager
        return df

    return wrapped


def queries() -> dict[str, QueryFn]:
    return {k: _wrap_plan_cached(k, v[0]) for k, v in _ordered().items()}


def oracle_sql() -> dict[str, str]:
    return {k: v[1] for k, v in _ordered().items() if v[1] is not None}


# Base-table DataFrame memo — the engine's (minimal) catalog. A bare
# ``spark.read.parquet`` costs ~80-90 ms of driver work EVERY call (file
# listing + footer schema read); a 171-query suite touching ~1.7 tables
# per query pays ~25 s per pass re-deriving metadata that never changes.
# Real engines put this in a metastore; here a dict keyed by
# (applicationId, sf_dir, table, session) holds the immutable lazy scan
# plan. Caches METADATA ONLY (lazy plan + file index) — never rows,
# never results — so bench passes still execute the full compute. Keyed
# by appId so a new application never sees another one's plans, and by
# session so a table read for one profile never joins into another's
# plan; static testdata assumption documented (a changed directory needs
# a new key or process, same as any metastore cache).
_TABLE_CACHE: dict[tuple[str, str, str, SparkSession], DataFrame] = {}


def _remember(memo: dict, key: tuple, value):
    """``memo[key] = value`` for the per-application memos (_TABLE_CACHE,
    _PLAN_CACHE, _INPUT_BYTES, _SESSIONS), whose keys start with the
    applicationId. Entries of other applications are evicted first: they
    hold py4j references into stopped JVMs and would accumulate forever
    in a process that cycles sessions."""
    for k in [k for k in memo if k[0] != key[0]]:
        del memo[k]
    memo[key] = value
    return value


def _norm_text() -> Column:
    """The canonical text normalization (lower, trim, collapse runs of
    whitespace) — the ONE definition that must stay expression-identical
    to the oracle-side ``regexp_replace(lower(regexp_replace(text, '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g')), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')``
    string; 14 query sites share it."""
    from .functions.text import WS, ws_strip

    return F.regexp_replace(F.lower(ws_strip(F.col("text"))), WS + "+", " ")


# SQL-text spellings of the shared whitespace convention (functions.text
# r8 unification): the explicit class matches the same set in Java regex
# and RE2 — a bare \s does not (\x0B). TWO spellings because the STRING
# PARSERS differ (measured): DuckDB standard strings pass backslashes
# through to RE2 untouched, while Spark SQL string literals process \t
# but silently turn the unknown escape '\x0B' into the THREE literal
# chars 'x0B' — a class that then eats x/0/B. F.expr sites must double
# the backslashes so the REGEX engine, not the SQL parser, interprets.
_SQL_WS = "[ \\t\\n\\x0B\\f\\r]"  # DuckDB oracle spelling
_EXPR_WS = "[ \\\\t\\\\n\\\\x0B\\\\f\\\\r]"  # Spark F.expr spelling
_EXPR_STRIP = f"regexp_replace(text, '^{_EXPR_WS}+|{_EXPR_WS}+$', '')"


def _text_tokens() -> Column:
    """Spark twin of the oracles' ``string_split(<norm>, ' ')`` length
    semantics: whitespace-strip + explicit-class split (functions.text
    convention; trim()/\\s+ diverged on tab-fringed and \\x0B text)."""
    from .functions.text import tokens

    return tokens(F.col("text"))


def _input_bytes(spark: SparkSession, sf_dir: str) -> int:
    """Total bytes under ``sf_dir``, read once per (session, directory)
    like _TABLE_CACHE."""
    sc = spark.sparkContext
    key = (sc.applicationId, sf_dir)
    n = _INPUT_BYTES.get(key)
    if n is None:
        path = sc._jvm.org.apache.hadoop.fs.Path(sf_dir)
        fs = path.getFileSystem(sc._jsc.hadoopConfiguration())
        n = _remember(_INPUT_BYTES, key, fs.getContentSummary(path).getLength())
    return n


def _execution_profile(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    """The confs a registry query over ``sf_dir`` runs under: the baseline
    — small single-file tables split across cores, UTC so timestamp
    formatting matches the (naive) DuckDB oracle, the engine's broadcast
    threshold, Spark's default bloom scan-size threshold, and NANOS
    events read as bigint (see _events) — plus AQE and the shuffle width
    (see SMALL_INPUT_BYTES); the baseline width under lazy_plans."""
    # baseline width: one per core (the driver's default 200 is sized
    # for a cluster)
    width = spark.sparkContext.defaultParallelism
    small = is_materializing() and _input_bytes(spark, sf_dir) < SMALL_INPUT_BYTES
    return {
        "spark.sql.files.maxPartitionBytes": str(SPLIT_BYTES),
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.autoBroadcastJoinThreshold": str(AUTOBROADCAST_BYTES),
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "10GB",
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.adaptive.enabled": str(not small).lower(),
        "spark.sql.shuffle.partitions": str(
            min(width, SMALL_INPUT_PARTITIONS) if small else width
        ),
    }


def _profile_session(spark: SparkSession, confs: dict[str, str]) -> SparkSession:
    """The session of ``spark``'s application that runs under ``confs``:
    a child session (see SMALL_INPUT_BYTES), created once per
    application and set of confs. A builder must read every table from the
    session it builds on: a join plans under its left-hand frame's
    session."""
    key = (spark.sparkContext.applicationId, frozenset(confs.items()))
    session = _SESSIONS.get(key)
    if session is None:
        session = spark.newSession()
        for k, v in confs.items():
            session.conf.set(k, v)
        _remember(_SESSIONS, key, session)
    return session


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir, name, spark)
    df = _TABLE_CACHE.get(key)
    if df is None:
        df = _remember(_TABLE_CACHE, key, spark.read.parquet(f"{sf_dir}/{name}.parquet"))
    return df


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events scan, normalized so ``ts`` is always a session-TZ TimestampType
    column (session pinned UTC) regardless of the physical flavor the driver
    parquet uses. Observed flavors across rounds: TIMESTAMP(MICROS, NTZ)
    (current testdata), TIMESTAMP(NANOS) (reads as bigint under
    ``nanosAsLong``, which every profile session sets), and plain
    TIMESTAMP. Do NOT assume one flavor — it has
    changed between rounds before."""
    from catlas_spark.sources.events_io import normalize_ts, probe_ts_flavor

    key = (spark.sparkContext.applicationId, sf_dir, "events__normalized", spark)
    ev = _TABLE_CACHE.get(key)
    if ev is None:
        # unit decided ONCE PER FILE from the parquet logical type (footer
        # probe) — never per-row by magnitude, which misreads pre-1973 nanos
        ev = _remember(
            _TABLE_CACHE,
            key,
            normalize_ts(
                spark.read.parquet(f"{sf_dir}/events.parquet"),
                probe_ts_flavor(f"{sf_dir}/events.parquet"),
            ),
        )
    return ev


# ---------------------------------------------------------------------------
# A. Aggregation spine (reference A1/A2/A4: lineage counts, array-length sums,
#    conditional counts — catlas/prediction_steps.py:165-407)
# ---------------------------------------------------------------------------


@register(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 4)                                     AS sum_qty,
           round(sum(l_extendedprice), 4)                                AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 4)             AS sum_disc_price,
           round(avg(l_discount), 4)                                     AS avg_disc,
           count(*)                                                      AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan → filter (pushed to parquet) → hash agg.

    Reference analog: per-stage count/sum accounting (SURVEY §2.7 A1/A2).
    """
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# B. Filters (reference F1-F12 — catlas/filters.py:15-179)
# ---------------------------------------------------------------------------


@register(
    "filter_in_ids",
    """
    SELECT o_orderkey, o_custkey, o_orderpriority
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    """,
)
def q_filter_in_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 `filter_by_bulk_ids` (`catlas/filters.py:42-43`): IN-list predicate."""
    return (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select("o_orderkey", "o_custkey", "o_orderpriority")
    )


@register(
    "filter_not_in_ids",
    """
    SELECT o_orderkey, o_orderstatus
    FROM orders
    WHERE o_orderstatus NOT IN ('F')
    """,
)
def q_filter_not_in_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 `filter_ignore_bulk_ids` (`catlas/filters.py:44-45`): NOT IN."""
    return (
        _t(spark, sf_dir, "orders")
        .filter(~F.col("o_orderstatus").isin("F"))
        .select("o_orderkey", "o_orderstatus")
    )


@register(
    "filter_range",
    """
    SELECT p_partkey, p_name, round(p_retailprice, 4) AS retail
    FROM part
    WHERE p_retailprice BETWEEN 500 AND 1500 AND p_size <= 30
    """,
)
def q_filter_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6/F10/F11 bounded-range predicates (`catlas/filters.py:71-129`)."""
    return (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_retailprice").between(500, 1500) & (F.col("p_size") <= 30))
        .select("p_partkey", "p_name", F.round("p_retailprice", 4).alias("retail"))
    )


@register(
    "filter_sample_deterministic",
    """
    SELECT o_orderkey, o_custkey
    FROM orders
    WHERE o_orderkey % 10 = 3
    """,
)
def q_filter_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12 `filter_fraction` (`catlas/filters.py:131-132`) — seeded Bernoulli
    sampling. Engine API uses df.sample(fraction, seed); for the cross-engine
    oracle we use the deterministic modulo variant (same sampling semantics,
    reproducible across engines)."""
    return (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 10 == 3)
        .select("o_orderkey", "o_custkey")
    )


# ---------------------------------------------------------------------------
# C. Grouped/window filters (reference F16-F19 — the engine's signature ops)
# ---------------------------------------------------------------------------


@register(
    "grouped_topk",
    """
    SELECT l_orderkey, l_linenumber, round(l_extendedprice, 4) AS price
    FROM (
      SELECT l_orderkey, l_linenumber, l_extendedprice,
             row_number() OVER (PARTITION BY l_orderkey
                                ORDER BY l_extendedprice DESC, l_linenumber) AS rn
      FROM lineitem
    ) WHERE rn <= 2
    """,
)
def q_grouped_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F16 grouped top-k by score (`catlas/filter_utils.py:568-620`):
    keep the 2 best lineitems per order by price."""
    li = _t(spark, sf_dir, "lineitem")
    out = grouped_topk(
        li,
        ["l_orderkey"],
        [F.col("l_extendedprice").desc(), F.col("l_linenumber")],
        k=2,
    )
    return out.select(
        "l_orderkey", "l_linenumber", F.round("l_extendedprice", 4).alias("price")
    )


@register(
    "best_within_threshold",
    """
    SELECT l_orderkey, l_linenumber, round(l_extendedprice, 4) AS price
    FROM (
      SELECT l_orderkey, l_linenumber, l_extendedprice,
             min(l_extendedprice) OVER (PARTITION BY l_orderkey) AS min_p
      FROM lineitem
    ) WHERE (l_extendedprice - min_p) <= min_p * 0.1
    """,
)
def q_best_within_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F17 best-shift retention (`catlas/filter_utils.py:623-679`): keep rows
    within 10% (relative) of the group minimum."""
    li = _t(spark, sf_dir, "lineitem")
    out = best_within_relative_threshold(li, ["l_orderkey"], F.col("l_extendedprice"), 0.1)
    return out.select(
        "l_orderkey", "l_linenumber", F.round("l_extendedprice", 4).alias("price")
    )


@register(
    "group_exists_soft_delete",
    """
    SELECT o_custkey, o_orderkey,
           CASE WHEN max(CASE WHEN o_totalprice > 200000 THEN 1 ELSE 0 END)
                     OVER (PARTITION BY o_custkey) = 0
                THEN 'no order above target' END AS filter_reason
    FROM orders
    """,
)
def q_group_exists_soft_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F18/F19 group-EXISTS soft delete (`catlas/filters.py:266-348`): if no
    order of a customer exceeds the target, mark ALL that customer's rows."""
    orders = _t(spark, sf_dir, "orders")
    out = group_exists_mark(
        orders,
        ["o_custkey"],
        F.col("o_totalprice") > 200000,
        "no order above target",
    )
    return out.select("o_custkey", "o_orderkey", "filter_reason")


@register(
    "grouped_min_argmin",
    """
    SELECT l_orderkey, l_linenumber AS argmin_line, round(l_extendedprice, 4) AS min_price
    FROM (
      SELECT l_orderkey, l_linenumber, l_extendedprice,
             row_number() OVER (PARTITION BY l_orderkey
                                ORDER BY l_extendedprice, l_linenumber) AS rn
      FROM lineitem
    ) WHERE rn = 1
    """,
)
def q_grouped_min_argmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 grouped min + argmin (`catlas/adslab_predictions.py:324-337`)."""
    # project BEFORE the argmin: min_by's payload struct bakes in every
    # column of its input, and Catalyst cannot prune through it — the
    # full 16-column lineitem row rode the aggregation shuffle for a
    # 3-column answer (r7; same bytes discipline as the sinks' P2)
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    out = grouped_min_argmin(
        li, ["l_orderkey"], F.col("l_extendedprice"), [F.col("l_linenumber")]
    )
    return out.select(
        "l_orderkey",
        F.col("l_linenumber").alias("argmin_line"),
        F.round("l_extendedprice", 4).alias("min_price"),
    )


# ---------------------------------------------------------------------------
# D. Joins (reference J1-J5 — catlas/prediction_steps.py:271 etc.)
# ---------------------------------------------------------------------------


@register(
    "join_revenue_per_nation",
    """
    SELECT n.n_name AS nation, round(sum(o.o_totalprice), 4) AS revenue,
           count(*) AS n_orders
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def q_join_revenue_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 equi-join chain + agg; dims broadcast (customer/nation are small —
    analog of the tiny adsorbates dimension, SURVEY §2.5)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(F.sum("o_totalprice"), 4).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@register(
    "cross_join_small",
    """
    SELECT r.r_name, n.n_name
    FROM region r CROSS JOIN nation n
    """,
)
def q_cross_join_small(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 cross join with broadcast small side (`catlas/prediction_steps.py:271`
    surfaces × adsorbates)."""
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    return r.crossJoin(F.broadcast(n)).select("r_name", "n_name")


@register(
    "semi_join_customers_with_orders",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join (group-EXISTS in join form, SURVEY §2.5 note)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@register(
    "anti_join_customers_without_orders",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@register(
    "lookup_join_supplier_nation",
    """
    SELECT s.s_suppkey, s.s_name, n.n_name AS nation, r.r_name AS region
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)
def q_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 KV point-lookup join (`catlas/filter_utils.py:226-247`) as a
    broadcast-hash join against the side table."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
    )


# ---------------------------------------------------------------------------
# E. FlatMap / explode (reference T1/T2 enumeration TVFs)
# ---------------------------------------------------------------------------


@register(
    "explode_word_counts",
    """
    SELECT word, count(*) AS n
    FROM (SELECT unnest(string_split(p_type, ' ')) AS word FROM part)
    GROUP BY word
    """,
)
def q_explode_word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 flatMap/explode shape (`catlas/enumerate_slabs_adslabs.py:31-78`):
    one input row → N output rows, parent columns carried along (J5)."""
    p = _t(spark, sf_dir, "part")
    return (
        p.select(F.explode(F.split(F.col("p_type"), " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "union_distinct_keys",
    """
    SELECT DISTINCT k FROM (
      SELECT o_custkey AS k FROM orders
      UNION ALL
      SELECT c_custkey AS k FROM customer
    )
    """,
)
def q_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 union + A8 distinct (`catlas/enumeration_utils.py:59-67`)."""
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    c = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))
    return o.unionByName(c).distinct()


# ---------------------------------------------------------------------------
# F. Scalar functions (reference §2.11: string/regex/hash)
# ---------------------------------------------------------------------------


@register(
    "regex_extract_ids",
    """
    SELECT c_custkey,
           regexp_extract(c_name, '([0-9]+)', 1) AS id_digits,
           upper(c_mktsegment) AS segment
    FROM customer
    """,
)
def q_regex_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex id extraction (`catlas/parity/data_processing_utils.py:28`)."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.regexp_extract("c_name", r"([0-9]+)", 1).alias("id_digits"),
        F.upper("c_mktsegment").alias("segment"),
    )


# ---------------------------------------------------------------------------
# G. Window analytics (running aggregates, sessionization)
# ---------------------------------------------------------------------------


@register(
    "running_sum_per_supplier",
    """
    SELECT l_suppkey, l_orderkey, l_linenumber,
           round(sum(l_quantity) OVER (
             PARTITION BY l_suppkey
             ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity, l_partkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_qty
    FROM lineitem
    """,
)
def q_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window frame aggregate (beyond-reference capability; SURVEY §2.8
    notes the reference has no general window operator)."""
    li = _t(spark, sf_dir, "lineitem")
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_quantity", "l_partkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.round(F.sum("l_quantity").over(w), 4).alias("running_qty"),
    )


@register(
    "sessionization",
    """
    WITH gaps AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE OR
                       lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sessions AS (
      SELECT user_id,
             CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM gaps
    )
    SELECT user_id, session_id, count(*) AS n_events
    FROM sessions GROUP BY user_id, session_id
    """,
)
def q_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via lag + gap cumsum (common OLAP pattern; new
    capability over the reference)."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag(F.col("ts")).over(w)
    # exact interval comparison (not unix-seconds subtraction): matches the
    # oracle's `ts - lag(ts) > INTERVAL 30 MINUTE` on any timestamp flavor
    new_session = F.when(
        prev.isNull() | ((F.col("ts") - prev) > F.expr("INTERVAL 30 MINUTES")),
        F.lit(1),
    ).otherwise(F.lit(0))
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        ev.withColumn("new_session", new_session)
        .withColumn("session_id", F.sum("new_session").over(wcum))
        .groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


# ---------------------------------------------------------------------------
# H. Parity analytics (reference A5/A6 — catlas/parity/parity_utils.py:206-243)
# ---------------------------------------------------------------------------


@register(
    "parity_regression",
    """
    SELECT l_returnflag AS split,
           count(*) AS n,
           round(avg(abs(l_extendedprice - l_quantity * 1000)), 4) AS mae,
           round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
           round(corr(l_extendedprice, l_quantity), 4) AS r
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_parity_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 MAE + A6 linear-regression aggregates per split
    (`catlas/parity/parity_utils.py:212-213`)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy(F.col("l_returnflag").alias("split")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(F.abs(F.col("l_extendedprice") - F.col("l_quantity") * 1000)), 4).alias(
            "mae"
        ),
        F.round(F.regr_slope(F.col("l_extendedprice"), F.col("l_quantity")), 4).alias("slope"),
        F.round(
            F.regr_intercept(F.col("l_extendedprice"), F.col("l_quantity")), 4
        ).alias("intercept"),
        F.round(F.corr(F.col("l_extendedprice"), F.col("l_quantity")), 4).alias("r"),
    )


@register(
    "frame_mean_error",
    """
    SELECT label, i - 1 AS pos, round(avg(embedding[i]), 4) AS mean_val
    FROM embeddings, range(1, 9) t(i)
    GROUP BY label, i
    """,
)
def q_frame_mean_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 per-frame column-wise mean over an array column
    (`bin/optimize_frame.py:73-96`): posexplode → groupBy(pos) → avg.
    Uses the first 8 embedding positions as the 'frames'."""
    e = _t(spark, sf_dir, "embeddings")
    return (
        e.select(
            "label",
            F.posexplode(F.slice(F.col("embedding").cast("array<double>"), 1, 8)).alias(
                "pos", "val"
            ),
        )
        .withColumn("pos", F.col("pos").cast("long"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg("val"), 4).alias("mean_val"))
    )


# ---------------------------------------------------------------------------
# I. Events / time-series (tumbling window batch analog of the streaming path)
# ---------------------------------------------------------------------------


@register(
    "events_tumbling_hour",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
           event_type,
           count(*) AS n,
           round(sum(value), 4) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregate over the events table (batch form of the
    Structured Streaming path in catlas_spark.streaming)."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias(
                "bucket"
            ),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
    )


# ---------------------------------------------------------------------------
# J. Relational widening: rollup/cube/pivot, sorts/limits, set/array ops,
#    scalar math, exact quantiles, collect/group-concat, conditional aggs.
#    (SURVEY §2.7 notes the reference has none of grouping-sets/cube/rollup —
#    these are engine capabilities beyond parity, graded as first-class.)
# ---------------------------------------------------------------------------


@register(
    "rollup_revenue",
    """
    SELECT r.r_name AS region, n.n_name AS nation,
           grouping(r.r_name) AS g_region, grouping(n.n_name) AS g_nation,
           round(sum(o.o_totalprice), 4) AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP(r.r_name, n.n_name)
    """,
)
def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with grouping() markers (hierarchical subtotals)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    joined = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    renamed = joined.select(
        F.col("r_name").alias("region"), F.col("n_name").alias("nation"), "o_totalprice"
    )
    return (
        renamed.rollup("region", "nation")
        .agg(
            F.grouping("region").cast("long").alias("g_region"),
            F.grouping("nation").cast("long").alias("g_nation"),
            F.round(F.sum("o_totalprice"), 4).alias("revenue"),
        )
        .select("region", "nation", "g_region", "g_nation", "revenue")
    )


@register(
    "cube_counts",
    """
    SELECT o_orderstatus AS status, o_orderpriority AS priority,
           grouping(o_orderstatus) AS g_status, grouping(o_orderpriority) AS g_priority,
           count(*) AS n
    FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
)
def q_cube_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.select(
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("priority"),
        )
        .cube("status", "priority")
        .agg(
            F.grouping("status").cast("long").alias("g_status"),
            F.grouping("priority").cast("long").alias("g_priority"),
            F.count(F.lit(1)).alias("n"),
        )
        .select("status", "priority", "g_status", "g_priority", "n")
    )


@register(
    "pivot_status_priority",
    """
    SELECT o_orderpriority AS priority,
           round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END), 4) AS total_f,
           round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice ELSE 0 END), 4) AS total_o,
           round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice ELSE 0 END), 4) AS total_p
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_pivot_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide aggregation). Spark .pivot() with explicit value list —
    Catalyst compiles it to the same conditional aggregates as the oracle."""
    o = _t(spark, sf_dir, "orders")
    out = (
        o.groupBy(F.col("o_orderpriority").alias("priority"))
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.sum("o_totalprice"))
    )
    return out.select(
        "priority",
        F.round(F.coalesce("F", F.lit(0.0)), 4).alias("total_f"),
        F.round(F.coalesce("O", F.lit(0.0)), 4).alias("total_o"),
        F.round(F.coalesce("P", F.lit(0.0)), 4).alias("total_p"),
    )


@register(
    "orderby_limit_topn",
    """
    SELECT o_orderkey, round(o_totalprice, 4) AS total
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
)
def q_orderby_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global ORDER BY + LIMIT (TakeOrderedAndProject — no full sort at scale)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", F.round("o_totalprice", 4).alias("total"))
    )


@register(
    "array_subset_filter",
    """
    SELECT p_partkey, p_name
    FROM part
    WHERE list_has_all(['small', 'large', 'hot', 'cold', 'red', 'blue',
                        'widget', 'gear', 'plate', 'bolt'],
                       string_split(lower(p_name), ' '))
      AND list_has_any(string_split(lower(p_name), ' '), ['widget', 'gear', 'plate'])
    """,
)
def q_array_subset_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 acceptable-elements (array ⊆ allowed set, `catlas/filters.py:46-55`)
    + F7 required-overlap (`catlas/filters.py:73-87`) on tokenized p_type."""
    allowed = [
        "small", "large", "hot", "cold", "red", "blue",
        "widget", "gear", "plate", "bolt",
    ]
    active = ["widget", "gear", "plate"]
    p = _t(spark, sf_dir, "part")
    toks = F.split(F.lower(F.col("p_name")), " ")
    subset_ok = F.size(F.array_except(toks, F.array(*[F.lit(a) for a in allowed]))) == 0
    overlap_ok = F.arrays_overlap(toks, F.array(*[F.lit(a) for a in active]))
    return p.filter(subset_ok & overlap_ok).select("p_partkey", "p_name")


@register(
    "required_elements_filter",
    """
    SELECT p_partkey, p_name
    FROM part
    WHERE list_has_all(string_split(lower(p_name), ' '), ['widget'])
    """,
)
def q_required_elements_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 required-elements: ∀ req ∈ required: req ∈ tokens
    (`catlas/filters.py:59-70`)."""
    p = _t(spark, sf_dir, "part")
    toks = F.split(F.lower(F.col("p_name")), " ")
    required = F.array(F.lit("widget"))
    ok = F.size(F.array_intersect(toks, required)) == F.size(required)
    return p.filter(ok).select("p_partkey", "p_name")


@register(
    "scalar_math",
    """
    SELECT l_orderkey, l_linenumber,
           round(sqrt(l_quantity), 4) AS sqrt_qty,
           round(pow(l_discount + 1.0, 2), 4) AS pow_disc,
           round(ln(l_extendedprice), 4) AS log_price,
           round(abs(l_extendedprice - 1000), 4) AS abs_diff,
           CAST(sign(l_discount - 0.05) AS DOUBLE) AS sgn,
           CAST(ceil(l_quantity / 7) AS BIGINT) AS ceil7,
           CAST(floor(l_quantity / 7) AS BIGINT) AS floor7,
           CAST(l_orderkey % 7 AS BIGINT) AS mod7
    FROM lineitem
    WHERE l_orderkey % 50 = 0
    """,
)
def q_scalar_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar math function battery (§2.11 math/linalg row)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 50 == 0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.sqrt("l_quantity"), 4).alias("sqrt_qty"),
        F.round(F.pow(F.col("l_discount") + 1.0, 2), 4).alias("pow_disc"),
        F.round(F.log(F.col("l_extendedprice")), 4).alias("log_price"),
        F.round(F.abs(F.col("l_extendedprice") - 1000), 4).alias("abs_diff"),
        F.signum(F.col("l_discount") - 0.05).alias("sgn"),
        F.ceil(F.col("l_quantity") / 7).alias("ceil7"),
        F.floor(F.col("l_quantity") / 7).alias("floor7"),
        (F.col("l_orderkey") % 7).cast("long").alias("mod7"),
    )


@register(
    "exact_quantiles",
    """
    SELECT l_returnflag AS flag,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
           round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
           round(min(l_extendedprice), 4) AS lo,
           round(max(l_extendedprice), 4) AS hi
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous quantiles per group — computed scale-safely:
    `partitioning.grouped_exact_quantiles` reduces to (group, value)
    counts, range-partitions, and locates the interpolation ranks via
    per-partition offsets, so no group's value multiset ever sits in one
    aggregation buffer (Spark's exact `percentile` merges each group
    onto a single reducer — the 100x memory cliff this avoids; the
    sketch path with an error-bound oracle is `approx_quantile_bounds`)."""
    from .partitioning import grouped_exact_quantiles

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"), "l_extendedprice"
    )
    # pre_aggregate auto-dispatches from a distinct-ratio probe: prices
    # are near-unique at this sf (raw-row path, skipping a no-op
    # shuffle: 3.9 -> 2.6 s) but duplicate-heavy in amplified corpora
    # (where the (group,value) reduction is the whole point). Group
    # min/max come free from the offsets collect (extremes=True); 8
    # fuller range partitions beat 32 thin ones for per-task overhead.
    # Bucket bounds ride the parquet FOOTER (the set_containment_join
    # planning pattern) so the probe drops its KLL sketch build —
    # boundaries only steer bucket balance, and prices are not skewed
    # enough to need equi-depth ones (2.15 -> ~1.7 s warm at sf0.1
    # same-box with the right-sized window exchange; 23.1 -> 17.2 s at
    # 100x).
    from .sources.stats import parquet_column_bounds

    qt = grouped_exact_quantiles(
        li,
        "flag",
        "l_extendedprice",
        [0.5, 0.9],
        num_partitions=8,
        extremes=True,
        value_bounds=parquet_column_bounds(
            f"{sf_dir}/lineitem.parquet", "l_extendedprice"
        ),
    )
    return qt.groupBy("flag").agg(
        F.round(F.max(F.when(F.col("prob") == 0.5, F.col("quantile"))), 4).alias("p50"),
        F.round(F.max(F.when(F.col("prob") == 0.9, F.col("quantile"))), 4).alias("p90"),
        F.round(F.min("group_min"), 4).alias("lo"),
        F.round(F.max("group_max"), 4).alias("hi"),
    )


@register(
    "group_concat_sorted",
    """
    SELECT c_mktsegment AS segment,
           string_agg(DISTINCT c_name, ',' ORDER BY c_name) FILTER (WHERE c_custkey % 17 = 0) AS names
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def q_group_concat_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic group-concat: collect → sort → join (array_distinct +
    sort_array makes collect_list order-insensitive)."""
    c = _t(spark, sf_dir, "customer")
    joined = F.array_join(
        F.sort_array(
            F.array_distinct(
                F.collect_list(F.when(F.col("c_custkey") % 17 == 0, F.col("c_name")))
            )
        ),
        ",",
    )
    # empty group → NULL (SQL string_agg semantics), not ''
    return c.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.nullif(joined, F.lit("")).alias("names")
    )


@register(
    "sum_array_lengths",
    """
    SELECT lang, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           count(*) AS n_docs
    FROM documents
    GROUP BY lang
    """,
)
def q_sum_array_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 sum of array lengths (`catlas/prediction_steps.py:406`:
    total adslab configs = Σ len(energies))."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.sum(F.size(F.split(F.col("text"), " "))).alias("total_tokens"),
        F.count(F.lit(1)).alias("n_docs"),
    )


@register(
    "conditional_step_counts",
    """
    SELECT l_returnflag AS flag,
           CAST(sum(CASE WHEN l_discount > 0.05 THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS qty_discounted,
           count(CASE WHEN l_tax > 0.04 THEN 1 END) AS n_taxed
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_conditional_step_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 conditional counts (`catlas/adslab_predictions.py:365-387`:
    Σ len(L) over rows where min_L not null)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.sum(
            F.when(F.col("l_discount") > 0.05, F.col("l_quantity").cast("long")).otherwise(0)
        ).alias("qty_discounted"),
        F.count(F.when(F.col("l_tax") > 0.04, F.lit(1))).alias("n_taxed"),
    )


@register(
    "window_lag_lead",
    """
    SELECT user_id, event_id,
           lag(event_id) OVER w AS prev_event,
           lead(event_id) OVER w AS next_event,
           first_value(event_id) OVER w AS first_event
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.lag("event_id").over(w).alias("prev_event"),
        F.lead("event_id").over(w).alias("next_event"),
        F.first("event_id").over(w).alias("first_event"),
    )


@register(
    "json_extract_props",
    """
    SELECT event_id, CAST(props->>'$.k' AS BIGINT) AS k_value
    FROM events
    WHERE CAST(props->>'$.k' AS BIGINT) > 90
    """,
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction from a string column (§2.11 JSON functions)."""
    ev = _events(spark, sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return ev.select("event_id", k.alias("k_value")).filter(F.col("k_value") > 90)


@register(
    "asof_most_recent_purchase",
    """
    SELECT event_id, user_id,
           last_value(CASE WHEN event_type = 'purchase' THEN event_id END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_purchase_event
    FROM events
    QUALIFY event_type = 'click'
    """,
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (most recent prior purchase per click), expressed as a
    single-pass window over the unioned stream — no join, no shuffle beyond
    the user_id partition (the scale-path formulation of pd.merge_asof)."""
    ev = _events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    purchase_id = F.when(F.col("event_type") == "purchase", F.col("event_id"))
    return (
        ev.withColumn("last_purchase_event", F.last(purchase_id, ignorenulls=True).over(w))
        .filter(F.col("event_type") == "click")
        .select("event_id", "user_id", "last_purchase_event")
    )


# ---------------------------------------------------------------------------
# K. LLM-data-pipeline operators (BASELINE.json north star): dedup,
#    text analysis, similarity search, multimodal plumbing — all native
#    expressions so the oracle can verify them end-to-end.
# ---------------------------------------------------------------------------

_NORM = "regexp_replace(lower(regexp_replace(text, '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g')), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')"
_SHINGLES = (
    "list_distinct([t[i] || ' ' || t[i + 1] "
    "for i in generate_series(1, len(t) - 1)])"
)


@register(
    "dedup_exact",
    f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000, text FROM documents
    )
    SELECT substr(md5({_NORM}), 1, 16) AS fp,
           min(doc_id) AS keep_id,
           count(*) AS n_copies
    FROM corpus
    GROUP BY 1
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content fingerprint. Corpus = documents unioned with
    a re-crawl of itself (ids offset), so every text has exactly 2 copies
    and dedup provably halves the corpus. One map-side-combinable shuffle."""
    from .operators.dedup import exact_dedup

    d = _t(spark, sf_dir, "documents")
    recrawl = d.withColumn("doc_id", F.col("doc_id") + 100000)
    corpus = d.select("doc_id", "text").unionByName(recrawl.select("doc_id", "text"))
    return exact_dedup(corpus, "text", "doc_id")


def _mutated_corpus_sql() -> str:
    return """
      SELECT doc_id AS doc, text FROM documents
      UNION ALL
      SELECT doc_id + 100000, text || ' xtra' FROM documents
    """


def _mutated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    mutated = d.select(
        (F.col("doc_id") + 100000).alias("doc"),
        F.concat(F.col("text"), F.lit(" xtra")).alias("text"),
    )
    return d.select(F.col("doc_id").alias("doc"), "text").unionByName(mutated)


_HEX1 = "('0x' || substr(m, 17, 13))::BIGINT"  # 52-bit jaccard-set hash
_HEXX = "('0x' || substr(m, 1, 7))::BIGINT"  # 28-bit minhash-family input

_MINHASH_ORACLE = f"""
    WITH corpus AS ({_mutated_corpus_sql()}),
    toks AS (
      SELECT doc, string_split({_NORM}, ' ') AS t FROM corpus
    ),
    sh AS (
      SELECT doc, {_SHINGLES} AS shingles FROM toks WHERE len(t) >= 2
    ),
    hx AS (
      SELECT doc, {_HEXX} AS x, {_HEX1} AS h1
      FROM (SELECT doc, md5(s) AS m FROM (SELECT doc, unnest(shingles) AS s FROM sh))
    ),
    sig AS (
      SELECT doc,
             {", ".join(
                f"min(({a} * x + {b}) % {MINHASH_P}) AS sig_{i}"
                for i, (a, b) in enumerate(minhash_coeffs(12))
             )},
             list(DISTINCT h1) AS hset
      FROM hx GROUP BY doc
    ),
    bands AS (
      {" UNION ALL ".join(
          "SELECT doc, %d AS band_id, %s AS band_key FROM sig"
          % (b, " || '|' || ".join(f"sig_{4*b+j}" for j in range(4)))
          for b in range(3)
      )}
    ),
    cand AS (
      SELECT DISTINCT a.doc AS id_a, b.doc AS id_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc < b.doc
    ),
    verified AS (
      SELECT c.id_a, c.id_b,
             round(len(list_intersect(sa.hset, sb.hset))::DOUBLE /
                   (len(sa.hset) + len(sb.hset) - len(list_intersect(sa.hset, sb.hset))),
                   4) AS jaccard
      FROM cand c
      JOIN sig sa ON sa.doc = c.id_a
      JOIN sig sb ON sb.doc = c.id_b
    )
    SELECT id_a, id_b, jaccard FROM verified WHERE jaccard >= 0.5
"""


@register("dedup_minhash_lsh", _MINHASH_ORACLE)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup detection: exploded shingle hashing (codegen
    md5 once per shingle) → 12-permutation signature via one combinable
    groupBy → 3 4-row bands → bucket join for candidates (linear, never
    all-pairs) → exact-Jaccard verify on hashed shingle sets at 0.5.
    Corpus = documents ∪ one-token-mutated copies, so every
    (i, i+100000) pair is a true near-dup."""
    from .operators.dedup import minhash_lsh_pairs

    corpus = _mutated_corpus(spark, sf_dir).filter(
        F.size(_text_tokens()) >= 2
    )
    return minhash_lsh_pairs(corpus, "text", "doc", n_perm=12, band_size=4, threshold=0.5)


_SIMHASH_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id AS doc, unnest(string_split({_NORM}, ' ')) AS tok
      FROM documents
    ),
    hashed AS (SELECT doc, md5(tok) AS h FROM toks),
    votes AS (
      SELECT doc,
             {", ".join(
                "sum(CASE WHEN substr(h, %d, 1) IN ('8','9','a','b','c','d','e','f') "
                "THEN 1 ELSE -1 END) AS v_%d" % (b + 1, b)
                for b in range(16)
             )}
      FROM hashed GROUP BY doc
    )
    SELECT doc,
           {" || ".join(
              f"(CASE WHEN v_{b} > 0 THEN '1' ELSE '0' END)" for b in range(16)
           )} AS simhash
    FROM votes
"""


@register("dedup_simhash", _SIMHASH_ORACLE)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash 16-bit fingerprints (per-token md5 bits, majority vote):
    near-dup docs share a fingerprint bucket."""
    from .operators.dedup import simhash

    d = _t(spark, sf_dir, "documents")
    return simhash(d, "text", "doc_id", bits=16)


_JACCARD_ORACLE = f"""
    WITH corpus AS (
      SELECT d.doc_id AS doc, d.text, d.lang, d.source FROM documents d
      UNION ALL
      SELECT doc_id + 100000, text || ' xtra', lang, source FROM documents
    ),
    toks AS (
      SELECT doc, lang, source, string_split({_NORM}, ' ') AS t FROM corpus
    ),
    sh AS (
      SELECT doc, lang, source, {_SHINGLES} AS shingles FROM toks WHERE len(t) >= 2
    ),
    hx AS (
      SELECT doc, {_HEX1} AS h1
      FROM (SELECT doc, md5(s) AS m FROM (SELECT doc, unnest(shingles) AS s FROM sh))
    ),
    hs AS (
      SELECT h.doc, s.lang, s.source, list(DISTINCT h.h1) AS hset
      FROM hx h JOIN sh s ON h.doc = s.doc
      GROUP BY h.doc, s.lang, s.source
    ),
    pairs AS (
      SELECT a.doc AS id_a, b.doc AS id_b,
             round(len(list_intersect(a.hset, b.hset))::DOUBLE /
                   (len(a.hset) + len(b.hset) - len(list_intersect(a.hset, b.hset))),
                   4) AS jaccard
      FROM hs a JOIN hs b
        ON a.lang = b.lang AND a.source = b.source AND a.doc < b.doc
    )
    SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= 0.5
"""


@register("dedup_ngram_jaccard", _JACCARD_ORACLE)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked n-gram Jaccard near-dup pairs: all-pairs verify only within
    (lang, source) blocks — the quadratic term is bounded by block size;
    unblockable corpora use the LSH path instead. Shingle sets are
    52-bit-hashed so the intersect runs on long arrays, not strings."""
    from .operators.dedup import jaccard_pairs

    d = _t(spark, sf_dir, "documents")
    mutated = d.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" xtra")).alias("text"),
        "lang",
        "source",
    )
    corpus = d.select("doc_id", "text", "lang", "source").unionByName(mutated).filter(
        F.size(_text_tokens()) >= 2
    )
    return jaccard_pairs(corpus, "text", "doc_id", ["lang", "source"], 0.5)


_QUALITY_ORACLE = f"""
    WITH base AS (
      SELECT doc_id, text, lang,
             string_split({_NORM}, ' ') AS toks
      FROM documents
    )
    SELECT doc_id,
           len(toks) AS n_tokens,
           len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 \t\n\x0B\f\r]')) AS n_bpe_ish,
           round(len(list_filter(toks, t -> list_contains(['the','a','of','and','in','to','is'], t)))::DOUBLE
                 / len(toks), 4) AS stop_ratio,
           round(len(list_distinct(toks))::DOUBLE / len(toks), 4) AS uniq_ratio,
           round(list_sum(list_transform(toks, t -> len(t)))::DOUBLE / len(toks), 4) AS mean_tok_len,
           round(0.4 * least(len(text) / 400.0, 1.0)
                 + 0.4 * (len(list_distinct(toks))::DOUBLE / len(toks))
                 + 0.2 * (1.0 - len(regexp_replace(text, '[^\\x21-\\x2f\\x3a-\\x40\\x5b-\\x60\\x7b-\\x7e]', '', 'g'))::DOUBLE / len(text)),
                 4) AS quality
    FROM base
"""


@register("text_quality", _QUALITY_ORACLE)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text quality scoring: token counts (whitespace + BPE-ish regex),
    stopword ratio, vocabulary diversity, mean token length, composite
    quality score — all native expressions (zero Python in the plan)."""
    from .functions import text as TX

    d = _t(spark, sf_dir, "documents")
    col = F.col("text")
    return d.select(
        "doc_id",
        TX.token_count(col).cast("long").alias("n_tokens"),
        TX.bpe_ish_token_count(col).cast("long").alias("n_bpe_ish"),
        F.round(TX.stopword_ratio(col, "en"), 4).alias("stop_ratio"),
        F.round(TX.unique_token_ratio(col), 4).alias("uniq_ratio"),
        F.round(TX.mean_token_length(col), 4).alias("mean_tok_len"),
        TX.quality_score(col).alias("quality"),
    )


_LANGID_ORACLE = """
    WITH scored AS (
      SELECT doc_id, lang AS actual_lang,
             len(list_filter(t, x -> list_contains(['the','a','of','and','in','to','is'], x))) AS h_en,
             len(list_filter(t, x -> list_contains(['le','la','de','et','un','une','est'], x))) AS h_fr,
             len(list_filter(t, x -> list_contains(['der','die','das','und','ein','ist'], x))) AS h_de,
             len(list_filter(t, x -> list_contains(['el','la','de','y','un','una','es'], x))) AS h_es
      FROM (SELECT doc_id, lang,
                   string_split(regexp_replace(lower(regexp_replace(text, '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g')), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'), ' ') AS t
            FROM documents)
    )
    SELECT doc_id, actual_lang,
           CASE WHEN greatest(h_en, h_fr, h_de, h_es) = 0 THEN 'und'
                WHEN h_fr >= h_es AND h_fr >= h_en AND h_fr >= h_de THEN 'fr'
                WHEN h_es >= h_en AND h_es >= h_de THEN 'es'
                WHEN h_en >= h_de THEN 'en'
                ELSE 'de' END AS guessed_lang
    FROM scored
"""


@register("text_langid", _LANGID_ORACLE)
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: per-language stopword hit counts, argmax wins
    (ties → lexicographically greatest code), zero hits → 'und'."""
    from .functions.text import lang_guess

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.col("lang").alias("actual_lang"),
        lang_guess(F.col("text")).alias("guessed_lang"),
    )


@register(
    "doc_fingerprint",
    f"""
    SELECT doc_id, substr(md5({_NORM}), 1, 16) AS fp
    FROM documents
    """,
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content fingerprint (md5 of normalized text)."""
    from .functions.text import fingerprint

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint(F.col("text")).alias("fp"))


_COSINE = """
    round(
      list_sum(list_transform(generate_series(1, len(q_vec)),
               i -> CAST(q_vec[i] AS DOUBLE) * CAST(n_vec[i] AS DOUBLE)))
      / (sqrt(list_sum(list_transform(generate_series(1, len(q_vec)),
               i -> CAST(q_vec[i] AS DOUBLE) * CAST(q_vec[i] AS DOUBLE))))
       * sqrt(list_sum(list_transform(generate_series(1, len(n_vec)),
               i -> CAST(n_vec[i] AS DOUBLE) * CAST(n_vec[i] AS DOUBLE))))), 4)
"""


@register(
    "ann_cosine_topk",
    f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 5),
    pairs AS (
      SELECT q.q_id, q.q_vec, e.vec_id AS n_id, e.embedding AS n_vec
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id != q.q_id
    ),
    scored AS (SELECT q_id, n_id, {_COSINE} AS sim FROM pairs)
    SELECT q_id, n_id, sim, rank FROM (
      SELECT q_id, n_id, sim,
             row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for the first 5 vectors: exact
    ANN baseline; broadcast query side, no shuffle of the corpus."""
    from .operators.similarity import cosine_topk

    e = _t(spark, sf_dir, "embeddings")
    return cosine_topk(e, e.filter(F.col("vec_id") < 5), k=5)


@register(
    "ann_bucketed",
    f"""
    WITH b AS (
      SELECT vec_id, embedding,
             (CASE WHEN CAST(embedding[1] AS DOUBLE) >= 0 THEN 1 ELSE 0 END)
           + (CASE WHEN CAST(embedding[2] AS DOUBLE) >= 0 THEN 2 ELSE 0 END)
           + (CASE WHEN CAST(embedding[3] AS DOUBLE) >= 0 THEN 4 ELSE 0 END) AS bucket
      FROM embeddings
    ),
    q AS (SELECT vec_id AS q_id, embedding AS q_vec, bucket FROM b WHERE vec_id < 5),
    pairs AS (
      SELECT q.q_id, q.q_vec, e.vec_id AS n_id, e.embedding AS n_vec
      FROM b e JOIN q ON e.bucket = q.bucket
      WHERE e.vec_id != q.q_id
    ),
    scored AS (SELECT q_id, n_id, {_COSINE} AS sim FROM pairs)
    SELECT q_id, n_id, sim, rank FROM (
      SELECT q_id, n_id, sim,
             row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
)
def q_ann_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN (sign-bit hyperplane buckets): the scale path —
    candidates restricted to the query's bucket (~1/8 of the corpus)."""
    from .operators.similarity import bucketed_ann

    e = _t(spark, sf_dir, "embeddings")
    return bucketed_ann(e, e.filter(F.col("vec_id") < 5), k=3, n_bits=3)


@register(
    "multimodal_decode",
    """
    SELECT doc_id,
           len(text)::BIGINT AS byte_len,
           round(list_avg([ascii(substr(text, i, 1))
                           for i in generate_series(1, least(len(text), 64))]), 4) AS head_mean,
           'text' AS modality
    FROM documents
    """,
)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal binary-column plumbing: text → binary payload + typed
    metadata, then an Arrow-batched mapInPandas 'decode' producing
    deterministic features (real decoder stubbed; see
    catlas_spark.operators.multimodal)."""
    from .operators.multimodal import attach_binary_payload, decode_features

    d = _t(spark, sf_dir, "documents")
    return decode_features(attach_binary_payload(d))


# ---------------------------------------------------------------------------
# L. Scalar-function batteries + composite pipelines
# ---------------------------------------------------------------------------


@register(
    "hash_functions",
    """
    SELECT c_custkey, md5(c_name) AS h_md5, sha256(c_name) AS h_sha256
    FROM customer WHERE c_custkey % 20 = 0
    """,
)
def q_hash_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-hash functions (§2.11 hashing row: cache keys, fingerprints)."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 20 == 0)
    return c.select(
        "c_custkey",
        F.md5("c_name").alias("h_md5"),
        F.sha2("c_name", 256).alias("h_sha256"),
    )


@register(
    "date_functions",
    """
    SELECT o_orderkey,
           year(o_orderdate) AS yr,
           month(o_orderdate) AS mo,
           dayofmonth(o_orderdate) AS dom,
           strftime(o_orderdate, '%Y-%m') AS ym,
           date_diff('day', o_orderdate, TIMESTAMP '1998-01-01 00:00:00') AS days_to_98
    FROM orders WHERE o_orderkey % 25 = 0
    """,
)
def q_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time battery (§2.11 date/time row)."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 25 == 0)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("yr"),
        F.month("o_orderdate").cast("long").alias("mo"),
        F.dayofmonth("o_orderdate").cast("long").alias("dom"),
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
        F.datediff(
            F.lit("1998-01-01").cast("date"), F.col("o_orderdate").cast("date")
        ).cast("long").alias("days_to_98"),
    )


@register(
    "string_functions",
    """
    SELECT p_partkey,
           upper(p_name) AS up,
           length(p_name) AS len,
           substr(p_name, 1, 5) AS pre5,
           lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS padded,
           replace(p_name, ' ', '_') AS snake,
           reverse(p_brand) AS rev,
           concat_ws('|', p_brand, p_type) AS joined
    FROM part WHERE p_partkey % 7 = 0
    """,
)
def q_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String battery (§2.11 string row)."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_partkey") % 7 == 0)
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("up"),
        F.length("p_name").cast("long").alias("len"),
        F.substring("p_name", 1, 5).alias("pre5"),
        F.lpad(F.col("p_partkey").cast("string"), 8, "0").alias("padded"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("snake"),
        F.reverse("p_brand").alias("rev"),
        F.concat_ws("|", "p_brand", "p_type").alias("joined"),
    )


@register(
    "distinct_aggregates",
    """
    SELECT l_returnflag AS flag,
           count(DISTINCT l_partkey) AS n_parts,
           count(DISTINCT l_suppkey) AS n_supps,
           round(sum(DISTINCT l_quantity), 4) AS sum_distinct_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_distinct_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregates (A8 + multi-distinct planning)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.round(F.sum_distinct(F.col("l_quantity")), 4).alias("sum_distinct_qty"),
    )


@register(
    "ngram_doc_frequency",
    f"""
    SELECT gram, count(*) AS doc_freq
    FROM (
      SELECT doc_id, unnest({_SHINGLES.replace("t[i]", "t[i]")}) AS gram
      FROM (SELECT doc_id, string_split({_NORM}, ' ') AS t FROM documents)
      WHERE len(t) >= 2
    )
    GROUP BY gram
    ORDER BY doc_freq DESC, gram
    LIMIT 20
    """,
)
def q_ngram_doc_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 token bigrams by document frequency (per-doc distinct
    shingles → global count → TakeOrdered)."""
    from .functions.text import token_shingles

    d = _t(spark, sf_dir, "documents").filter(
        F.size(_text_tokens()) >= 2
    )
    return (
        d.select(F.explode(token_shingles(F.col("text"), 2)).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.col("doc_freq").desc(), "gram")
        .limit(20)
    )


@register(
    "embedding_norm_stats",
    """
    SELECT label,
           count(*) AS n,
           round(avg(nrm), 4) AS avg_norm,
           round(min(nrm), 4) AS min_norm,
           round(max(nrm), 4) AS max_norm
    FROM (
      SELECT label,
             sqrt(list_sum(list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      FROM embeddings
    )
    GROUP BY label
    """,
)
def q_embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label L2-norm statistics over the embedding column (vector
    functions fully JVM-side via F.aggregate)."""
    from .functions.vector import norm

    e = _t(spark, sf_dir, "embeddings")
    return (
        e.select("label", norm(F.col("embedding")).alias("nrm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("nrm"), 4).alias("avg_norm"),
            F.round(F.min("nrm"), 4).alias("min_norm"),
            F.round(F.max("nrm"), 4).alias("max_norm"),
        )
    )


_CLEAN_CORPUS_ORACLE = f"""
    WITH scored AS (
      SELECT doc_id, text,
             substr(md5({_NORM}), 1, 16) AS fp,
             round(0.4 * least(len(text) / 400.0, 1.0)
                   + 0.4 * (len(list_distinct(string_split({_NORM}, ' ')))::DOUBLE
                            / len(string_split({_NORM}, ' ')))
                   + 0.2 * (1.0 - len(regexp_replace(text, '[^\\x21-\\x2f\\x3a-\\x40\\x5b-\\x60\\x7b-\\x7e]', '', 'g'))::DOUBLE
                            / len(text)), 4) AS quality,
             len(list_filter(string_split({_NORM}, ' '),
                 t -> list_contains(['the','a','of','and','in','to','is'], t))) AS en_hits
      FROM documents
    ),
    kept AS (
      SELECT doc_id, fp, quality FROM scored
      WHERE quality >= 0.5 AND en_hits > 0
    )
    SELECT doc_id, quality FROM (
      SELECT doc_id, quality,
             row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      FROM kept
    ) WHERE rn = 1
"""


@register("clean_corpus_pipeline", _CLEAN_CORPUS_ORACLE)
def q_clean_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite pre-training-corpus filter: quality threshold + English
    stopword evidence + exact dedup (keep smallest id per fingerprint) —
    the operators of a real data pipeline chained in one plan."""
    from .functions import text as TX

    d = _t(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        TX.fingerprint(F.col("text")).alias("fp"),
        TX.quality_score(F.col("text")).alias("quality"),
        F.size(
            F.filter(
                TX.tokens(F.lower(F.col("text"))),
                lambda t: F.array_contains(
                    F.array(*[F.lit(w) for w in TX.STOPWORDS["en"]]), t
                ),
            )
        ).alias("en_hits"),
    )
    kept = scored.filter((F.col("quality") >= 0.5) & (F.col("en_hits") > 0))
    w = Window.partitionBy("fp").orderBy("doc_id")
    return (
        kept.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "quality")
    )


_TFIDF_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, count(*) AS n,
             sum(count(*)) OVER (PARTITION BY doc_id) AS doc_len
      FROM toks GROUP BY doc_id, term
    ),
    df AS (SELECT term, count(DISTINCT doc_id) AS doc_freq FROM toks GROUP BY term),
    n_docs AS (SELECT count(*) AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             round((tf.n::DOUBLE / tf.doc_len) * ln(n_docs.n::DOUBLE / df.doc_freq), 4)
               AS tfidf
      FROM tf JOIN df ON tf.term = df.term CROSS JOIN n_docs
    )
    SELECT doc_id, term, tfidf FROM (
      SELECT doc_id, term, tfidf,
             row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
      FROM scored
    ) WHERE rn <= 3
"""


_LM_XENT_ORACLE = f"""
    WITH t AS (SELECT doc_id, string_split({_NORM}, ' ') AS t2 FROM documents),
    d2 AS (SELECT doc_id, t2 FROM t WHERE len(t2) >= 2),
    flat AS (
      SELECT doc_id,
             unnest([t2[i] || ' ' || t2[i+1]
                     for i in generate_series(1, len(t2) - 1)]) AS bg
      FROM d2
    ),
    bc AS (SELECT bg, count(*) AS bn FROM flat GROUP BY bg),
    uc AS (
      SELECT w, count(*) AS un
      FROM (SELECT unnest(t2[1:len(t2) - 1]) AS w FROM d2)
      GROUP BY w
    ),
    v AS (SELECT count(DISTINCT tok) AS vsz
          FROM (SELECT unnest(t2) AS tok FROM d2))
    SELECT flat.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(-ln((bc.bn + 1)::DOUBLE / (uc.un + v.vsz))), 4) AS xent
    FROM flat
    JOIN bc ON bc.bg = flat.bg
    JOIN uc ON uc.w = split_part(flat.bg, ' ', 1)
    CROSS JOIN v
    GROUP BY flat.doc_id
    """


@register("lm_quality_score", _LM_XENT_ORACLE)
def q_lm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style statistical quality score: per-document cross-entropy
    under an add-one-smoothed bigram language model TRAINED ON THE
    CORPUS ITSELF — the filter a pretraining pipeline runs to drop
    gibberish/boilerplate-heavy documents (low-probability token
    transitions score high). Beyond the reference (its quality signals
    are heuristic ratios); fully native: tokens → per-doc bigrams via a
    doc-partitioned lead window (codegen — NOT a per-doc lambda),
    corpus bigram/prefix counts (map-side combinable), the vocabulary
    size as a broadcast literal, and P(w2|w1) = (B+1)/(C(w1)+V) scored
    back onto each document's bigrams with one vocabulary-keyed join.
    At 100 TB every stage is a hash shuffle on token keys; nothing
    collects."""

    d = _t(spark, sf_dir, "documents")
    norm = _norm_text()
    docs = d.select("doc_id", F.split(norm, " ").alias("t")).filter(F.size("t") >= 2)
    # bigrams via explode(sequence) + element_at: a pure generator —
    # the doc-partitioned lead() window this replaces cost a full
    # shuffle+sort of the exploded tokens (measured 2.3 s vs 1.5 s at
    # sf0.1). The bigram table feeds FOUR consumers (bigram counts,
    # prefix counts, the vocabulary count action, the scoring join) —
    # persist so the explode subtree runs once, released after the tiny
    # per-doc result materializes
    pairs = (
        docs.select(
            "doc_id", "t", F.explode(F.sequence(F.lit(1), F.size("t") - 1)).alias("i")
        )
        .select(
            "doc_id",
            F.element_at("t", F.col("i")).alias("w1"),
            F.element_at("t", F.col("i") + 1).alias("w2"),
        )
        .transform(maybe_persist)
    )
    bc = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("bn"))
    uc = pairs.groupBy("w1").agg(F.count(F.lit(1)).alias("un"))
    # every token of a >=2-token doc occurs in some bigram, so the
    # vocabulary is distinct(w1 ∪ w2) of the cached pairs — no second
    # pass over the explode chain
    vsz = (
        pairs.select(F.col("w1").alias("w"))
        .union(pairs.select(F.col("w2").alias("w")))
        .distinct()
        .count()
    )  # scalar → plan literal
    scored = (
        pairs.join(bc, ["w1", "w2"])
        .join(F.broadcast(uc), "w1")
        .withColumn(
            "nll", -F.log((F.col("bn") + 1) / (F.col("un") + F.lit(vsz)))
        )
    )
    from .caching import materialize_and_release

    res = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("nll"), 4).alias("xent"),
    )
    return materialize_and_release(res, pairs)


@register("tfidf_top_terms", _TFIDF_ORACLE)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF: top-3 terms per document. Classic corpus statistic as a
    three-shuffle plan (term counts, doc frequencies, per-doc window);
    the document-count scalar joins in as a broadcast literal."""
    d = _t(spark, sf_dir, "documents")
    norm = _norm_text()
    toks = d.select("doc_id", F.explode(F.split(norm, " ")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("n"))
    wdoc = Window.partitionBy("doc_id")
    tf = tf.withColumn("doc_len", F.sum("n").over(wdoc))
    df_ = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("doc_freq"))
    n_docs = d.count()  # scalar; becomes a literal in the plan
    scored = (
        tf.join(F.broadcast(df_), "term")
        .select(
            "doc_id",
            "term",
            F.round(
                (F.col("n") / F.col("doc_len"))
                * F.log(F.lit(float(n_docs)) / F.col("doc_freq")),
                4,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tfidf")
    )


_IVF_ORACLE = """
    WITH pos AS (
      SELECT label, i, round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS c
      FROM embeddings, range(1, 65) t(i)
      GROUP BY label, i
    ),
    centroids AS (
      SELECT label, list(c ORDER BY i) AS cvec FROM pos GROUP BY label
    ),
    q AS (SELECT vec_id AS q_id, embedding AS q_vec, label AS q_label
          FROM embeddings WHERE vec_id < 5),
    assign AS (
      SELECT q_id, q_vec, label AS c_label,
             row_number() OVER (PARTITION BY q_id ORDER BY
               round(
                 list_sum(list_transform(generate_series(1, 64),
                          i -> CAST(q_vec[i] AS DOUBLE) * cvec[i]))
                 / (sqrt(list_sum(list_transform(generate_series(1, 64),
                          i -> CAST(q_vec[i] AS DOUBLE) * CAST(q_vec[i] AS DOUBLE))))
                  * sqrt(list_sum(list_transform(generate_series(1, 64),
                          i -> cvec[i] * cvec[i])))), 4) DESC, label) AS rn
      FROM q CROSS JOIN centroids
    ),
    best AS (SELECT q_id, q_vec, c_label FROM assign WHERE rn = 1),
    pairs AS (
      SELECT b.q_id, b.q_vec, e.vec_id AS n_id, e.embedding AS n_vec
      FROM embeddings e JOIN best b ON e.label = b.c_label
      WHERE e.vec_id != b.q_id
    ),
    scored AS (
      SELECT q_id, n_id,
             round(
               list_sum(list_transform(generate_series(1, 64),
                        i -> CAST(q_vec[i] AS DOUBLE) * CAST(n_vec[i] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(generate_series(1, 64),
                        i -> CAST(q_vec[i] AS DOUBLE) * CAST(q_vec[i] AS DOUBLE))))
                * sqrt(list_sum(list_transform(generate_series(1, 64),
                        i -> CAST(n_vec[i] AS DOUBLE) * CAST(n_vec[i] AS DOUBLE))))), 4)
               AS sim
      FROM pairs
    )
    SELECT q_id, n_id, sim, rank FROM (
      SELECT q_id, n_id, sim,
             row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank
      FROM scored
    ) WHERE rank <= 3
"""


@register("ann_ivf", _IVF_ORACLE)
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: per-label centroids as the trained coarse quantizer
    (position-wise means), queries probe their nearest centroid's list
    only. The scale path: the corpus shuffles once by list id; each query
    scans ~1/n_lists of the data. Centroid components rounded to 6dp so
    the assignment is engine-portable."""
    from .functions.vector import cosine

    e = _t(spark, sf_dir, "embeddings")
    emb_d = F.col("embedding").cast("array<double>")
    pos = e.select("label", F.posexplode(emb_d).alias("i", "v"))
    centroids = (
        pos.groupBy("label", "i")
        .agg(F.round(F.avg("v"), 6).alias("c"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "c"))), lambda s: s["c"]
            ).alias("cvec")
        )
    )
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
    )
    wq = Window.partitionBy("q_id").orderBy(
        F.round(cosine(F.col("q_vec"), F.col("cvec")), 4).desc(), "label"
    )
    best = (
        q.crossJoin(F.broadcast(centroids))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") == 1)
        .select("q_id", "q_vec", F.col("label").alias("c_label"))
    )
    pairs = e.join(
        F.broadcast(best),
        (e.label == F.col("c_label")) & (e.vec_id != F.col("q_id")),
    ).select(
        "q_id",
        F.col("vec_id").alias("n_id"),
        F.round(cosine(F.col("q_vec"), F.col("embedding")), 4).alias("sim"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), "n_id")
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("q_id", "n_id", "sim", "rank")
    )


@register(
    "dedup_embedding_cosine",
    """
    WITH pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             a.embedding AS q_vec, b.embedding AS n_vec
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, sim FROM (
      SELECT id_a, id_b,
             round(
               list_sum(list_transform(generate_series(1, 64),
                        i -> CAST(q_vec[i] AS DOUBLE) * CAST(n_vec[i] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(generate_series(1, 64),
                        i -> CAST(q_vec[i] AS DOUBLE) * CAST(q_vec[i] AS DOUBLE))))
                * sqrt(list_sum(list_transform(generate_series(1, 64),
                        i -> CAST(n_vec[i] AS DOUBLE) * CAST(n_vec[i] AS DOUBLE))))), 4)
               AS sim
      FROM pairs
    ) WHERE sim >= 0.35 AND NOT isnan(sim)
    """,
)
def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: all-pairs only WITHIN a
    label block (the embedding-space analog of blocked Jaccard dedup);
    pairs above the 0.35 threshold (top ~0.5% of this corpus) are
    flagged. Pairwise scoring runs in the engine's designated
    vectorized-Python stage (`blocked_cosine_pairs`, the semantic_dedup
    scorer convention: dim-sequential numpy folds, bit-exact vs the JVM
    in-order aggregate — the interpreted higher-order-aggregate join
    form measured 1.9 s vs 0.8 s at sf0.1, and this subtree re-executes
    under every downstream CC action). The exact round+threshold
    decision stays JVM-side."""
    from .operators.similarity import blocked_cosine_pairs

    e = _t(spark, sf_dir, "embeddings")
    return (
        blocked_cosine_pairs(e, "label", "vec_id", "embedding", threshold=0.35)
        .select("id_a", "id_b", F.round("sim", 4).alias("sim"))
        .filter(F.col("sim") >= 0.35)
    )


@register(
    "dedup_cluster_assign",
    """
    WITH RECURSIVE pairs AS (
      SELECT id_a, id_b FROM (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(
                 list_sum(list_transform(generate_series(1, 64),
                          i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(generate_series(1, 64),
                          i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
                  * sqrt(list_sum(list_transform(generate_series(1, 64),
                          i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))), 4)
                 AS sim
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id < b.vec_id
      ) WHERE sim >= 0.35 AND NOT isnan(sim)
    ),
    edges AS (
      SELECT id_a AS s, id_b AS d FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    reach(node, label) AS (
      SELECT DISTINCT s, s FROM edges
      UNION
      SELECT e.d, r.label FROM reach r JOIN edges e ON e.s = r.node
    ),
    labels AS (
      SELECT node, min(label) AS cluster_id FROM reach GROUP BY node
    )
    SELECT node, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM labels
    """,
)
def q_dedup_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → canonical cluster ids via distributed connected
    components (iterative min-label propagation — near-dup similarity is
    not transitive, so chains must be closed before electing a canonical
    doc). Pairs are the embedding-cosine near-dups; output is
    (node, cluster_id=min id in component, cluster_size). The oracle is
    a recursive min-reachability CTE over the same pair list."""
    from .operators.dedup import connected_components

    pairs = q_dedup_embedding_cosine(spark, sf_dir)
    cc = connected_components(pairs)
    w = Window.partitionBy("cluster_id")
    return cc.withColumn("cluster_size", F.count(F.lit(1)).over(w).cast("long"))


@register(
    "stratified_sample",
    """
    SELECT lang, doc_id FROM (
      SELECT lang, doc_id,
             row_number() OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
             count(*) OVER (PARTITION BY lang) AS n
      FROM documents
    ) WHERE rn <= ceil(n * 0.1)
    """,
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: 10% per language stratum via a
    hash-ordered window (engine API also offers df.sampleBy; the hash
    order makes the sample reproducible across engines)."""
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    wn = Window.partitionBy("lang")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(wn))
        .filter(F.col("rn") <= F.ceil(F.col("n") * 0.1))
        .select("lang", "doc_id")
    )


@register(
    "grouped_reservoir_sample",
    """
    SELECT source, doc_id FROM (
      SELECT source, doc_id,
             row_number() OVER (PARTITION BY source
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents
    ) WHERE rn <= 20
    """,
)
def q_grouped_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size uniform sample WITHOUT replacement per group (the
    reservoir-sampling contract, k=20 docs per source): rank rows inside
    each group by a content-independent hash and keep the first k —
    exactly a uniform k-subset, deterministic across engines and runs
    (the counterpart of `grouped_bootstrap_sample`, which draws WITH
    replacement). Per-group hash sort parallelizes across groups; at
    100 TB the rank can also come from `ranked_by_range` partitioned by
    (group, hash) if single groups outgrow one reducer."""
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("source", "doc_id")
    )


@register(
    "salted_revenue_agg",
    """
    SELECT l_returnflag AS flag,
           round(CAST(sum(CAST(round(l_extendedprice * (1 - l_discount), 4)
                              AS DECIMAL(20,4))) AS DOUBLE), 4) AS revenue,
           count(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_salted_revenue_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation over a skewed key (only 3 distinct
    return flags — the hot-key worst case): groupBy(key, salt) partials
    then groupBy(key) finals. The oracle is the PLAIN aggregation — the
    result must be identical, proving the rewrite is semantics-preserving.
    (Per-row revenues are rounded then summed as DECIMAL, so the
    two-phase order cannot perturb the total.)"""
    from catlas_spark.partitioning import salted_agg

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
        .cast("decimal(20,4)")
        .alias("rev"),
    )
    out = salted_agg(
        li,
        ["flag"],
        n_salts=8,
        partial_aggs=[F.sum("rev").alias("prev"), F.count(F.lit(1)).alias("pn")],
        final_aggs=[
            F.round(F.sum("prev").cast("double"), 4).alias("revenue"),
            F.sum("pn").alias("n"),
        ],
    )
    return out


@register(
    "sql_api_market_share",
    """
    SELECT n.n_name AS nation,
           round(sum(CASE WHEN o.o_orderstatus = 'F' THEN o.o_totalprice ELSE 0 END)
                 / sum(o.o_totalprice), 4) AS finished_share,
           count(*) AS n_orders
    FROM orders o, customer c, nation n
    WHERE o.o_custkey = c.c_custkey AND c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    HAVING count(*) > 10
    """,
)
def q_sql_api_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL surface: temp views + spark.sql — Catalyst produces the
    same plan as the DataFrame API; both front-ends are first-class."""
    for t in ("orders", "customer", "nation"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
        SELECT n.n_name AS nation,
               round(sum(CASE WHEN o.o_orderstatus = 'F' THEN o.o_totalprice ELSE 0 END)
                     / sum(o.o_totalprice), 4) AS finished_share,
               count(*) AS n_orders
        FROM orders o, customer c, nation n
        WHERE o.o_custkey = c.c_custkey AND c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
        HAVING count(*) > 10
        """
    )


@register(
    "multimodal_frame_sample",
    """
    WITH params AS (
      SELECT doc_id, text, len(text) AS n,
             greatest(len(text) // 4, 1) AS step
      FROM documents WHERE len(text) > 0
    ),
    frames AS (
      SELECT doc_id, i AS frame_idx,
             CASE WHEN i * step + 1 <= n
                  THEN list_avg([ascii(substr(text, j, 1))
                                 for j in generate_series(i * step + 1,
                                                          least((i + 1) * step, n))])
                  ELSE list_avg([ascii(substr(text, j, 1))
                                 for j in generate_series(n - step + 1, n)])
             END AS m
      FROM params, range(0, 4) t(i)
      WHERE i < n
    )
    SELECT doc_id, frame_idx, floor(m * 10000 + 0.5) / 10000 AS frame_mean
    FROM frames
    """,
)
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling TVF over binary payloads (video/audio plumbing):
    one row in → 4 frame rows out via Arrow-batched mapInPandas."""
    from .operators.multimodal import attach_binary_payload, extract_frames

    d = _t(spark, sf_dir, "documents")
    return extract_frames(attach_binary_payload(d), n_frames=4)


@register(
    "streaming_tumbling_counts",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
           event_type,
           count(*) AS n,
           round(sum(value), 4) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_streaming_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming through the REAL readStream path (file source
    → watermark → tumbling window → availableNow memory sink), returned
    as a batch DataFrame. Oracle = the batch tumbling SQL: on a finite
    source the streaming plan must emit exactly the batch result, so the
    hash match proves stream/batch equivalence at the driver gate."""
    from .streaming.events import read_event_stream, run_batch_like_stream, tumbling_counts

    stream = read_event_stream(spark, f"{sf_dir}/events*.parquet")
    out = run_batch_like_stream(
        tumbling_counts(stream), "gate_tumbling", state_partitions=4
    )
    return out.select(
        F.date_format("bucket_start", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        "event_type",
        "n",
        "total_value",
    )


@register(
    "grouping_sets_revenue",
    """
    SELECT o_orderstatus AS status, o_orderpriority AS priority,
           grouping(o_orderstatus) AS g_status, grouping(o_orderpriority) AS g_priority,
           round(sum(o_totalprice), 4) AS revenue
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS (the general form rollup/cube specialize) via the
    SQL front-end — not expressible in the DataFrame API directly."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderstatus AS status, o_orderpriority AS priority,
               CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
               CAST(grouping(o_orderpriority) AS BIGINT) AS g_priority,
               round(sum(o_totalprice), 4) AS revenue
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@register(
    "range_frame_price_band",
    """
    SELECT l_suppkey, l_orderkey, l_linenumber,
           CAST(count(*) OVER (
             PARTITION BY l_suppkey ORDER BY l_extendedprice
             RANGE BETWEEN 500 PRECEDING AND 500 FOLLOWING) AS BIGINT) AS n_in_band
    FROM lineitem
    WHERE l_suppkey <= 3
    """,
)
def q_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window (value-based frame, order-insensitive within
    ties — SURVEY §2.8 notes the reference has no frame specs at all)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") <= 3)
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_extendedprice")
        .rangeBetween(-500, 500)
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.count(F.lit(1)).over(w).alias("n_in_band"),
    )


@register(
    "above_customer_avg",
    """
    SELECT o.o_orderkey, o.o_custkey, round(o.o_totalprice, 4) AS total
    FROM orders o
    WHERE o.o_totalprice > (SELECT avg(o2.o_totalprice) * 1.5 FROM orders o2
                            WHERE o2.o_custkey = o.o_custkey)
    """,
)
def q_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (orders 1.5x above the customer's own
    average). DataFrame form: window avg — one shuffle instead of the
    naive per-row subquery re-scan (what Catalyst decorrelates to)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    return (
        o.withColumn("cavg", F.avg("o_totalprice").over(w))
        .filter(F.col("o_totalprice") > F.col("cavg") * 1.5)
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 4).alias("total"))
    )


@register(
    "bool_aggregates",
    """
    SELECT l_returnflag AS flag,
           bool_and(l_discount <= 0.1) AS all_small_disc,
           bool_or(l_quantity >= 45) AS any_big_qty,
           CAST(count(*) FILTER (WHERE l_tax > 0.05) AS BIGINT) AS n_high_tax
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_bool_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregates + FILTER clause (every/any/conditional count)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.bool_and(F.col("l_discount") <= 0.1).alias("all_small_disc"),
        F.bool_or(F.col("l_quantity") >= 45).alias("any_big_qty"),
        F.count(F.when(F.col("l_tax") > 0.05, F.lit(1))).alias("n_high_tax"),
    )


@register(
    "intersect_except_keys",
    """
    SELECT k, 'both' AS src FROM (
      SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
      INTERSECT
      SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'
    )
    UNION ALL
    SELECT k, 'f_only' AS src FROM (
      SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
      EXCEPT
      SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'
    )
    """,
)
def q_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT set operators (beyond the reference's union-only
    §2.10 surface)."""
    o = _t(spark, sf_dir, "orders")
    f = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("k"))
    op = o.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("k"))
    both = f.intersect(op).withColumn("src", F.lit("both"))
    f_only = f.distinct().subtract(op.distinct()).withColumn("src", F.lit("f_only"))
    return both.unionByName(f_only)


@register(
    "ntile_quartiles",
    """
    SELECT q, count(*) AS n, round(min(o_totalprice), 4) AS lo,
           round(max(o_totalprice), 4) AS hi
    FROM (
      SELECT o_totalprice,
             CAST(ntile(4) OVER (ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS q
      FROM orders
    )
    GROUP BY q
    """,
)
def q_ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile quartile bucketing (deterministic global order with key
    tiebreak) + per-bucket stats — WITHOUT `ntile() OVER (ORDER BY ...)`
    with no partition, which funnels the whole table through one reducer.
    Exact global rank via range-partitioned ranking (every partition
    sorts in parallel), then ntile's tile formula applied arithmetically:
    the first n%4 tiles hold ceil(n/4) rows, the rest floor(n/4)."""
    from .partitioning import ranked_by_range

    o = _t(spark, sf_dir, "orders").select("o_totalprice", "o_orderkey")
    ranked, totals = ranked_by_range(o, ["o_totalprice", "o_orderkey"])
    n = totals["count"]
    base, rem = divmod(n, 4)
    cut = (base + 1) * rem  # rows in the rem over-full leading tiles
    q = (
        F.when(F.col("rnk") <= cut, F.ceil(F.col("rnk") / (base + 1)))
        .otherwise(rem + F.ceil((F.col("rnk") - cut) / max(base, 1)))
        .cast("long")
    )
    # no caching.hold needed: ranked_by_range pins via localCheckpoint
    # (ContextCleaner-freed, no cache entry) — hold is only for frames
    # derived from materialize_and_release outputs
    return (
        ranked.select("o_totalprice", q.alias("q"))
        .groupBy("q")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 4).alias("lo"),
            F.round(F.max("o_totalprice"), 4).alias("hi"),
        )
    )


@register(
    "approx_distinct_bounds",
    """
    SELECT l_returnflag AS flag,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_nd,
           abs(approx_count_distinct(l_partkey) - count(DISTINCT l_partkey))
             <= 0.08 * count(DISTINCT l_partkey) AS approx_ok
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_approx_distinct_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog sketch (approx_count_distinct) proven against the exact
    count. The sketches differ across engines, so the oracle-checked
    contract is the ERROR BOUND: each engine asserts its own estimate is
    within 8% of the exact distinct count (Spark rsd=0.02 → ~2% typical).
    At 100 TB the sketch is the only option — one map-side-combinable pass,
    no distinct shuffle of the key universe."""
    li = _t(spark, sf_dir, "lineitem")
    # HLL is duplicate-insensitive, so both aggregates can share ONE
    # pre-distinct pass: avoids the Expand (row duplication per distinct
    # aggregate) that count(DISTINCT)-next-to-another-agg plans, and the
    # distinct shuffle is map-side combinable (1.5 -> 0.9 s at sf0.1)
    d = li.select(F.col("l_returnflag").alias("flag"), "l_partkey").distinct()
    return d.groupBy("flag").agg(
        F.count(F.lit(1)).alias("exact_nd"),
        (
            F.abs(F.approx_count_distinct("l_partkey", 0.02) - F.count(F.lit(1)))
            <= 0.08 * F.count(F.lit(1))
        ).alias("approx_ok"),
    )


@register(
    "approx_quantile_bounds",
    """
    SELECT o_orderstatus AS status,
           round(median(o_totalprice), 4) AS exact_p50,
           abs(approx_quantile(o_totalprice, 0.5) - median(o_totalprice))
             <= 0.05 * median(o_totalprice) AS approx_ok
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def q_approx_quantile_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile sketch (percentile_approx / t-digest) proven against the
    exact median — same error-bound contract as approx_distinct_bounds.
    Spark's KLL-ish sketch at accuracy=10000 has rank error 1e-4; the
    5% VALUE tolerance holds on any non-degenerate distribution."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.round(F.median("o_totalprice"), 4).alias("exact_p50"),
        (
            F.abs(F.percentile_approx("o_totalprice", 0.5, 10000) - F.median("o_totalprice"))
            <= 0.05 * F.median("o_totalprice")
        ).alias("approx_ok"),
    )


@register(
    "stats_moments",
    """
    SELECT l_returnflag AS flag,
           round(corr(l_quantity, l_extendedprice), 4)       AS corr_qty_price,
           round(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qp,
           round(covar_pop(l_quantity, l_discount), 6)       AS covar_qd,
           round(stddev_samp(l_discount), 4)                 AS sd_disc,
           round(var_pop(l_tax), 6)                          AS var_tax
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment statistical aggregates (corr / covariance / stddev /
    variance) — single hash-agg pass, all map-side combinable (Welford
    merge), no second scan. Skew/kurtosis excluded deliberately: Spark
    and ANSI engines disagree on bias correction, so they're not
    cross-engine oracle-checkable."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias("covar_qp"),
        F.round(F.covar_pop("l_quantity", "l_discount"), 6).alias("covar_qd"),
        F.round(F.stddev_samp("l_discount"), 4).alias("sd_disc"),
        F.round(F.var_pop("l_tax"), 6).alias("var_tax"),
    )


@register(
    "full_outer_nation_activity",
    """
    WITH c AS (SELECT c_nationkey AS nk, CAST(count(*) AS BIGINT) AS n_rich_cust
               FROM customer WHERE c_acctbal > 9900 GROUP BY c_nationkey),
         s AS (SELECT s_nationkey AS nk, CAST(count(*) AS BIGINT) AS n_rich_supp
               FROM supplier WHERE s_acctbal > 9000 GROUP BY s_nationkey)
    SELECT coalesce(c.nk, s.nk) AS nationkey,
           coalesce(c.n_rich_cust, 0) AS n_rich_cust,
           coalesce(s.n_rich_supp, 0) AS n_rich_supp
    FROM c FULL OUTER JOIN s ON c.nk = s.nk
    """,
)
def q_full_outer_nation_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two aggregated sides (nations with rich
    customers vs rich suppliers — each side one-sided for some nations).
    Both inputs pre-aggregate BEFORE the join, so the shuffle carries one
    row per nation, not one per customer."""
    c = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9900)
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_rich_cust"))
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 9000)
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_rich_supp"))
    )
    return c.join(s, "nk", "full_outer").select(
        F.coalesce(c["nk"], s["nk"]).alias("nationkey"),
        F.coalesce(F.col("n_rich_cust"), F.lit(0)).alias("n_rich_cust"),
        F.coalesce(F.col("n_rich_supp"), F.lit(0)).alias("n_rich_supp"),
    )


@register(
    "percent_rank_cume_dist",
    """
    SELECT s_nationkey, s_suppkey,
           round(percent_rank() OVER w, 4) AS pr,
           round(cume_dist() OVER w, 4) AS cd,
           round(nth_value(s_acctbal, 2) OVER
             (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 4)
             AS second_lowest
    FROM supplier
    WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey)
    """,
)
def q_percent_rank_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-rank window functions (percent_rank / cume_dist /
    nth_value with an explicit unbounded ROWS frame). Full tiebreak
    (acctbal, suppkey) keeps ranks deterministic across engines."""
    s = _t(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy("s_acctbal", "s_suppkey")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return s.select(
        "s_nationkey",
        "s_suppkey",
        F.round(F.percent_rank().over(w), 4).alias("pr"),
        F.round(F.cume_dist().over(w), 4).alias("cd"),
        F.round(F.nth_value("s_acctbal", 2).over(wfull), 4).alias("second_lowest"),
    )


@register(
    "posexplode_bigram_positions",
    """
    SELECT doc_id, pos, tok
    FROM (
      SELECT doc_id,
             unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos,
             unnest(string_split(text, ' ')) AS tok
      FROM documents WHERE doc_id % 97 = 0
    )
    WHERE pos <= 5
    """,
)
def q_posexplode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode (ordinal-preserving explode): token with its 1-based
    position. The reference's enumeration TVFs (SURVEY §2.5) carry the
    parent ordinal the same way; position is computed inside the explode
    generator, not via a window after the fact."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 97 == 0)
    return (
        d.select(
            "doc_id",
            F.posexplode(F.split(F.col("text"), " ")).alias("pos0", "tok"),
        )
        .withColumn("pos", (F.col("pos0") + 1).cast("long"))
        .filter(F.col("pos") <= 5)
        .select("doc_id", "pos", "tok")
    )


_MINHASH_CHAR_ORACLE = f"""
    WITH corpus AS (
      SELECT doc_id AS doc, text FROM documents WHERE doc_id % 3 = 0
      UNION ALL
      SELECT doc_id + 100000, text || ' xtra' FROM documents WHERE doc_id % 3 = 0
    ),
    nt AS (SELECT doc, {_NORM} AS n FROM corpus),
    sh AS (
      SELECT doc,
             list_distinct([substr(n, i, 8) for i in generate_series(1, len(n) - 7)])
               AS shingles
      FROM nt WHERE len(n) >= 8
    ),
    hx AS (
      SELECT doc, {_HEXX} AS x, {_HEX1} AS h1
      FROM (SELECT doc, md5(s) AS m FROM (SELECT doc, unnest(shingles) AS s FROM sh))
    ),
    sig AS (
      SELECT doc,
             {", ".join(
                f"min(({a} * x + {b}) % {MINHASH_P}) AS sig_{i}"
                for i, (a, b) in enumerate(minhash_coeffs(12))
             )},
             list(DISTINCT h1) AS hset
      FROM hx GROUP BY doc
    ),
    bands AS (
      {" UNION ALL ".join(
          "SELECT doc, %d AS band_id, %s AS band_key FROM sig"
          % (b, " || '|' || ".join(f"sig_{4*b+j}" for j in range(4)))
          for b in range(3)
      )}
    ),
    cand AS (
      SELECT DISTINCT a.doc AS id_a, b.doc AS id_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc < b.doc
    ),
    verified AS (
      SELECT c.id_a, c.id_b,
             floor(10000 * len(list_intersect(sa.hset, sb.hset))::DOUBLE /
                   (len(sa.hset) + len(sb.hset) - len(list_intersect(sa.hset, sb.hset)))
                   + 0.5) / 10000 AS jaccard
      FROM cand c
      JOIN sig sa ON sa.doc = c.id_a
      JOIN sig sb ON sb.doc = c.id_b
    )
    SELECT id_a, id_b, jaccard FROM verified WHERE jaccard >= 0.5
"""


@register("dedup_minhash_char", _MINHASH_CHAR_ORACLE)
def q_dedup_minhash_char(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-shingle MinHash+LSH near-dup variant: 8-char overlapping
    shingles instead of word bigrams — robust to tokenization differences
    (punctuation glued to words, no-whitespace scripts) at the cost of
    ~len(text) shingles per doc, so it runs on a 1/3 id-sample here. Same
    signature/band/verify plan as dedup_minhash_lsh; only the shingle
    generator changes (SURVEY §7.2 step 8 dedup family)."""
    from .operators.dedup import minhash_lsh_pairs

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 0)
    mutated = d.select(
        (F.col("doc_id") + 100000).alias("doc"),
        F.concat(F.col("text"), F.lit(" xtra")).alias("text"),
    )
    corpus = d.select(F.col("doc_id").alias("doc"), "text").unionByName(mutated)
    return minhash_lsh_pairs(
        corpus, "text", "doc", n_perm=12, band_size=4, shingle_n=8,
        threshold=0.5, shingle_mode="char",
    )


@register(
    "bloom_pruned_join",
    """
    SELECT l_returnflag AS flag,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_totalprice > 450000
    GROUP BY l_returnflag
    """,
)
def q_bloom_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter join pruning: the selective predicate on the
    orders side is turned into a bloom_filter_agg whose might_contain()
    probe is pushed into the lineitem scan, so non-matching rows die
    BEFORE the join shuffle (Catalyst InjectRuntimeFilter). At 100 TB
    both sides exceed the broadcast threshold and this is the default
    plan; at bench scale the thresholds are lowered to exercise the
    shuffle-join path. The overrides are this query's declared conf
    set: the profile plus three confs, resolved to a session of its own,
    on which every table below is read and the frame plans and runs.
    Plan assertion lives in tests/test_physical_plans.py."""
    spark = _profile_session(
        spark,
        {
            **_execution_profile(spark, sf_dir),
            "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        },
    )
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("l_returnflag").alias("flag"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
        )
    )


_PII_EMAIL = "[a-z0-9._]+@[a-z0-9.]+"
_PII_PHONE = "\\+1 555-[0-9]{4}"


@register(
    "pii_redaction",
    f"""
    WITH corpus AS (
      SELECT doc_id,
             'contact user' || doc_id || '@mail.example or +1 555-' ||
             lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ': ' || text AS text
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text, '{_PII_PHONE}')) AS BIGINT) AS n_phones,
           substr(regexp_replace(regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                                 '{_PII_PHONE}', '<PHONE>', 'g'), 1, 80) AS redacted_head
    FROM corpus
    """,
)
def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over a corpus (training-data pipeline staple):
    count + redact email/phone patterns with engine-portable regexes,
    entirely in whole-stage codegen (regexp_extract_all / regexp_replace
    — zero Python). The corpus deterministically injects one email and
    one phone per doc so redaction counts are oracle-checkable."""
    d = _t(spark, sf_dir, "documents")
    text = F.concat(
        F.lit("contact user"), F.col("doc_id").cast("string"),
        F.lit("@mail.example or +1 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(": "), F.col("text"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(text, _PII_EMAIL, "<EMAIL>"), _PII_PHONE, "<PHONE>"
    )
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(text, F.lit(_PII_EMAIL), 0)).cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all(text, F.lit(_PII_PHONE), 0)).cast("long").alias("n_phones"),
        F.substring(redacted, 1, 80).alias("redacted_head"),
    )


@register(
    "token_zipf_rank",
    f"""
    WITH toks AS (
      SELECT unnest(string_split({_NORM}, ' ')) AS tok FROM documents
    ),
    counts AS (SELECT tok, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY tok),
    ranked AS (
      SELECT tok, n,
             CAST(row_number() OVER (ORDER BY n DESC, tok) AS BIGINT) AS rnk,
             round(sum(n) OVER (ORDER BY n DESC, tok
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::DOUBLE
                   / (SELECT sum(n) FROM counts), 4) AS cum_share
      FROM counts
    )
    SELECT tok, n, rnk, cum_share FROM ranked WHERE rnk <= 100
    """,
)
def q_token_zipf_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token-frequency (Zipf) profile: global token counts, rank,
    and cumulative probability mass of the top-100 vocabulary. The
    explode+groupBy is corpus-sized (map-side combinable, one shuffle);
    rank AND running sum over the vocabulary-sized aggregate come from
    range-partitioned ranking — every partition sorts in parallel with
    prefix offsets, never a single-partition window (the vocab is
    bounded but still ~millions of rows at 100 TB). The grand total is
    a free by-product of the offset pass, not a second corpus scan."""
    from .partitioning import ranked_by_range

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(
            F.split(_norm_text(), " ")
        ).alias("tok")
    )
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    ranked, totals = ranked_by_range(
        counts, [F.col("n").desc(), "tok"], cum_cols=("n",)
    )
    # no caching.hold needed: ranked_by_range pins via localCheckpoint
    # (ContextCleaner-freed, no cache entry) — hold is only for frames
    # derived from materialize_and_release outputs
    return (
        ranked.filter(F.col("rnk") <= 100)
        .select(
            "tok",
            "n",
            "rnk",
            F.round(F.col("cum_n") / F.lit(totals["sum_n"]), 4).alias("cum_share"),
        )
    )


@register(
    "decontaminate_against_eval",
    f"""
    WITH tri AS (
      SELECT doc_id AS doc,
             list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                            for i in generate_series(1, len(t) - 2)]) AS sh
      FROM (SELECT doc_id, string_split({_NORM}, ' ') AS t FROM documents)
      WHERE len(t) >= 3
    ),
    eval_sh AS (
      SELECT DISTINCT unnest(sh) AS s FROM tri WHERE doc % 101 = 0
    ),
    train_sh AS (
      SELECT doc, unnest(sh) AS s FROM tri WHERE doc % 101 <> 0
    )
    SELECT doc, CAST(count(DISTINCT t.s) AS BIGINT) AS n_shared
    FROM train_sh t JOIN eval_sh e ON t.s = e.s
    GROUP BY doc
    HAVING count(DISTINCT t.s) >= 3
    """,
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (LLM-data hygiene): flag training docs
    sharing ≥3 distinct token trigrams with any eval-set doc. The eval
    shingle set is distinct+broadcast (eval sets are tiny); the corpus
    side is explode → semi-join → per-doc distinct count — the train
    corpus is never shuffled whole, only its matching shingle rows."""
    from .operators.dedup import contamination_flags

    d = _t(spark, sf_dir, "documents")
    eval_set = d.filter(F.col("doc_id") % 101 == 0)
    train = d.filter(F.col("doc_id") % 101 != 0)
    return contamination_flags(
        train, eval_set, "text", "doc_id", shingle_n=3, min_shared=3
    ).withColumn("n_shared", F.col("n_shared").cast("long"))


@register(
    "repetition_quality_filter",
    f"""
    WITH grams AS (
      SELECT doc_id AS doc, unnest(list_distinct([t[i] || ' ' || t[i+1]
                            for i in generate_series(1, len(t) - 1)])) AS g,
             len(t) - 1 AS n_bigrams
      FROM (SELECT doc_id, string_split({_NORM}, ' ') AS t FROM documents)
      WHERE len(t) >= 2
    ),
    tokpairs AS (
      SELECT doc_id AS doc, t[i] || ' ' || t[i+1] AS g
      FROM (SELECT doc_id, string_split({_NORM}, ' ') AS t FROM documents),
           LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i)
      WHERE len(t) >= 2
    ),
    counts AS (
      SELECT doc, g, CAST(count(*) AS BIGINT) AS n FROM tokpairs GROUP BY doc, g
    ),
    ranked AS (
      SELECT doc, g, n,
             CAST(sum(n) OVER (PARTITION BY doc) AS BIGINT) AS total,
             row_number() OVER (PARTITION BY doc ORDER BY n DESC, g) AS rn
      FROM counts
    )
    SELECT doc, g AS top_bigram, n AS top_n, total AS n_bigrams,
           floor(10000 * n::DOUBLE / total + 0.5) / 10000 AS top_frac,
           n::DOUBLE / total > 0.08 AS repetitive
    FROM ranked WHERE rn = 1
    """,
)
def q_repetition_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signal: the most frequent bigram's
    share of all bigram occurrences per doc (templated/spammy text has a
    dominant n-gram). Overlapping bigrams are extracted positionally
    (posexplode over tokens — occurrences, not the distinct set), counted
    per (doc, gram) — one corpus-sized map-side-combinable shuffle — and
    the per-doc argmax is a window over the gram-count table with a full
    (count desc, gram) tiebreak."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        F.col("doc_id").alias("doc"),
        F.split(_norm_text(), " ").alias("t"),
    ).filter(F.size("t") >= 2)
    pairs = toks.select(
        "doc",
        F.posexplode("t").alias("i", "tok"),
        F.col("t"),
    ).filter(F.col("i") < F.size("t") - 1).select(
        "doc",
        F.concat_ws(" ", F.col("tok"), F.element_at("t", F.col("i") + 2)).alias("g"),
    )
    counts = pairs.groupBy("doc", "g").agg(F.count(F.lit(1)).alias("n"))
    wdoc = Window.partitionBy("doc")
    wrank = Window.partitionBy("doc").orderBy(F.col("n").desc(), "g")
    frac = F.col("n") / F.col("total")
    return (
        counts.withColumn("total", F.sum("n").over(wdoc))
        .withColumn("rn", F.row_number().over(wrank))
        .filter(F.col("rn") == 1)
        .select(
            "doc",
            F.col("g").alias("top_bigram"),
            F.col("n").alias("top_n"),
            F.col("total").alias("n_bigrams"),
            (F.floor(10000 * frac + F.lit(0.5)) / 10000.0).alias("top_frac"),
            (frac > 0.08).alias("repetitive"),
        )
    )


# ---------------------------------------------------------------------------
# N. Large-scale layout patterns: CDC compaction, time-series gap-fill,
#    skew-resistant joins, histograms, sliding windows. These are the
#    physical-design idioms a 100 TB deployment leans on daily; each is
#    proven semantics-preserving against the plain-SQL oracle.
# ---------------------------------------------------------------------------


@register(
    "latest_event_per_user",
    """
    SELECT user_id, event_id, event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
           round(value, 4) AS value
    FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def q_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style latest-row-wins compaction: keep each key's most recent
    record (the upsert-log → snapshot pattern; at 100 TB this is the
    standard daily compaction job). One shuffle by key; the window is a
    partial top-1 so AQE + map-side row_number short-circuits sorting
    entire partitions. Deterministic tiebreak on event_id."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_id",
            "event_type",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
            F.round("value", 4).alias("value"),
        )
    )


@register(
    "timeseries_gapfill",
    """
    WITH hourly AS (
      SELECT user_id, date_trunc('hour', ts) AS h,
             sum(CAST(value AS DECIMAL(12,2))) AS hv
      FROM events GROUP BY 1, 2
    ),
    bounds AS (
      SELECT user_id, min(h) AS lo, max(h) AS hi FROM hourly GROUP BY 1
    ),
    spine AS (
      SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
      FROM bounds
    ),
    joined AS (
      SELECT s.user_id, s.h, hourly.hv
      FROM spine s LEFT JOIN hourly ON s.user_id = hourly.user_id AND s.h = hourly.h
    )
    SELECT user_id, strftime(h, '%Y-%m-%d %H:%M:%S') AS bucket,
           round(CAST(last_value(hv IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY h
             ROWS UNBOUNDED PRECEDING) AS DOUBLE), 4) AS filled_value,
           hv IS NOT NULL AS observed
    FROM joined
    """,
)
def q_timeseries_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap-fill + forward-fill, spine-free (r10): each
    OBSERVED hourly row forward-fills exactly the buckets up to the next
    observed hour, so one lead() window plus an in-row sequence+explode
    emits the filled series directly — no per-key spine build, no
    spine⋈hourly left join, no second (fill) window. The spine's first
    bucket is always an observed hour (min over the observed set), so
    the expansion is exhaustive; per-key gap runs bound the explode
    fan-out the same way the spine did (Σ per-key ranges, never
    keys × full calendar). Replaced the r9 bounds+spine+join+
    last(ignorenulls) plan: 4 exchanges down to 2 (hourly agg, lead
    window) — same-session A/B 1.58 → 1.14 s, identical 1.05M rows.
    Hourly sums are exact DECIMAL so fill values are
    engine-independent."""
    ev = _events(spark, sf_dir)
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.sum(F.col("value").cast("decimal(12,2)")).alias("hv"))
    w = Window.partitionBy("user_id").orderBy("h")
    return (
        hourly.withColumn("h_next", F.lead("h").over(w))
        .select(
            "user_id",
            "h",
            "hv",
            F.explode(
                F.expr(
                    "sequence(h, coalesce(h_next - interval 1 hour, h),"
                    " interval 1 hour)"
                )
            ).alias("b"),
        )
        .select(
            "user_id",
            F.date_format("b", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
            F.round(F.col("hv").cast("double"), 4).alias("filled_value"),
            (F.col("b") == F.col("h")).alias("observed"),
        )
    )


@register(
    "salted_skew_join",
    """
    SELECT s.s_nationkey AS nationkey,
           round(CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount), 4)
                              AS DECIMAL(20,4))) AS DOUBLE), 4) AS revenue,
           count(*) AS n
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY s.s_nationkey
    """,
)
def q_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant salted join (R7 applied to joins, not just aggs):
    fact rows get a deterministic salt shard, the dim side is replicated
    per shard, and the sort-merge join runs on (key, salt) — a hot
    supplier key spreads across 8 reducers instead of serializing one.
    The oracle is the PLAIN join: replication must not change results.
    Per-row revenue is rounded then summed as DECIMAL so the two plans'
    addition orders cannot perturb the total."""
    from catlas_spark.partitioning import salted_join

    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
        .cast("decimal(20,4)")
        .alias("rev"),
    )
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    joined = salted_join(li, sup, "l_suppkey", "s_suppkey", n_salts=8)
    return joined.groupBy(F.col("s_nationkey").alias("nationkey")).agg(
        F.round(F.sum("rev").cast("double"), 4).alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "value_histogram",
    """
    SELECT CAST(floor(value / 50) AS BIGINT) AS bucket,
           count(*) AS n,
           round(min(value), 4) AS lo,
           round(max(value), 4) AS hi,
           round(CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / count(*), 4) AS mean
    FROM events
    GROUP BY 1
    """,
)
def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram — the one-pass profiling aggregate run
    before choosing partition/bucket boundaries on a new 100 TB table.
    Entirely map-side-combinable (count/min/max/decimal-sum); the final
    shuffle moves one row per bucket. The mean divides an exact DECIMAL
    sum so both engines round the same quotient."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.floor(F.col("value") / 50).cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 4).alias("lo"),
            F.round(F.max("value"), 4).alias("hi"),
            F.round(
                F.sum(F.col("value").cast("decimal(12,2)")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("mean"),
        )
    )


@register(
    "events_sliding_window",
    """
    WITH assigned AS (
      SELECT unnest([time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE,
                     time_bucket(INTERVAL 30 MINUTE, ts)]) AS ws,
             value
      FROM events
    )
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
           count(*) AS n,
           round(CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 4) AS total_value
    FROM assigned
    GROUP BY 1
    """,
)
def q_events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window aggregate (1 h window, 30 min slide) via the native
    window() expression — the batch twin of the Structured Streaming
    sliding aggregation, proving window-assignment semantics against the
    oracle's explicit two-bucket expansion. Each event lands in exactly
    window_len/slide = 2 windows; the expansion happens map-side before
    one combinable shuffle."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(12,2)")).cast("double"), 4
            ).alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n",
            "total_value",
        )
    )

@register(
    "interval_bucket_join",
    """
    WITH iv AS (
      SELECT i AS iv_id,
             TIMESTAMP '2024-01-01 00:00:00'
               + to_hours(24 * (i // 2) + 10 + (i % 2)) AS win_start
      FROM generate_series(0, 59) t(i)
    )
    SELECT iv_id, count(*) AS n_events,
           round(CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 4) AS sum_value
    FROM iv JOIN events ev
      ON ev.ts >= iv.win_start AND ev.ts < iv.win_start + INTERVAL 2 HOUR
    GROUP BY iv_id
    """,
)
def q_interval_bucket_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval (range) join via bucket expansion: 60 overlapping
    2-hour maintenance windows (two per day, offset 1 h) joined to the
    events stream. No equi key exists, so a naive BETWEEN join is a
    nested-loop cartesian; the operator explodes each interval into its
    covered hour buckets and equi-joins on the bucket (shuffle/broadcast
    hash join, AQE-eligible), post-filtered exactly. The oracle runs the
    naive BETWEEN join — same result, different physical strategy."""
    from .operators.relational import point_in_interval_join

    iv = (
        spark.range(60)
        .select(
            F.col("id").alias("iv_id"),
            (
                F.to_timestamp(F.lit("2024-01-01 00:00:00"))
                + F.expr(
                    "make_interval(0, 0, 0, 0, CAST(24 * (id DIV 2) + 10 + id % 2 AS INT), 0, 0)"
                )
            ).alias("win_start"),
        )
        .withColumn("win_end", F.col("win_start") + F.expr("INTERVAL 2 HOURS"))
    )
    ev = _events(spark, sf_dir)
    return (
        point_in_interval_join(ev, iv, "ts", "win_start", "win_end", bucket="hour")
        .groupBy("iv_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(12,2)")).cast("double"), 4
            ).alias("sum_value"),
        )
    )

_CLUSTER_KEEP_ORACLE = f"""
    WITH RECURSIVE pairs AS ({_MINHASH_ORACLE}),
    edges AS (
      SELECT id_a AS s, id_b AS d FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    reach(node, label) AS (
      SELECT DISTINCT s, s FROM edges
      UNION
      SELECT e.d, r.label FROM reach r JOIN edges e ON e.s = r.node
    ),
    labels AS (
      SELECT node, min(label) AS cluster_id FROM reach GROUP BY node
    ),
    corpus AS ({_mutated_corpus_sql()})
    SELECT node AS doc,
           first_value(node) OVER (
             PARTITION BY cluster_id ORDER BY len(text) DESC, node
           ) AS keep_id
    FROM labels JOIN corpus ON corpus.doc = labels.node
"""


@register("dedup_cluster_keep_best", _CLUSTER_KEEP_ORACLE)
def q_dedup_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full corpus-dedup pipeline in one plan: MinHash+LSH near-dup
    pairs → connected components (transitive closure of the near-dup
    relation) → per-cluster canonical keeper election (longest text,
    ties to smallest id). Emits (doc, keep_id) for every clustered doc —
    the table a 100 TB pipeline would anti-join against the corpus to
    drop redundant copies while keeping the best representative."""
    from .operators.dedup import connected_components, minhash_lsh_pairs

    # the signature pass is the ONLY consumer that needs the corpus
    # TEXT, and it scans it exactly once — so the r11 corpus-wide
    # MEMORY_ONLY text cache (built solely so the keeper election could
    # re-read lengths) is gone (r12, guide §2.3/§5): the election joins
    # a projected re-scan of (doc, length) instead, which skips the
    # expensive tokenize filter entirely (cc nodes all passed it by
    # construction, and length(text) is filter-invariant), and the
    # whole election stays LAZY — the old materialize-and-release count
    # existed only to release the now-nonexistent cache.
    corpus = _mutated_corpus(spark, sf_dir).filter(F.size(_text_tokens()) >= 2)
    pairs = minhash_lsh_pairs(corpus, "text", "doc", n_perm=12, band_size=4, threshold=0.5)
    cc = connected_components(pairs)
    lens = _mutated_corpus(spark, sf_dir).select(
        "doc", F.length("text").alias("tlen")
    )
    # per-cluster argmax rides a LENGTHS-ONLY window: the exchange
    # carries (node, cluster_id, tlen) ints, never document text
    w = Window.partitionBy("cluster_id").orderBy(F.col("tlen").desc(), "node")
    return (
        cc.join(lens, cc["node"] == lens["doc"])
        .select(cc["node"], "cluster_id", "tlen")
        .withColumn("keep_id", F.first("node").over(w))
        .select(F.col("node").alias("doc"), "keep_id")
    )

_PROFILE_COLS = [
    ("l_orderkey", "num"),
    ("l_quantity", "num"),
    ("l_extendedprice", "num"),
    ("l_discount", "num"),
    ("l_returnflag", "str"),
    ("l_linestatus", "str"),
]

_PROFILE_ORACLE = "\nUNION ALL\n".join(
    f"""
    SELECT '{c}' AS "column", count(*) AS n_rows,
           count(*) FILTER ({c} IS NULL) AS n_null,
           count(DISTINCT {c}) AS n_distinct,
           {f"round(CAST(min({c}) AS DOUBLE), 4)" if kind == "num" else "CAST(NULL AS DOUBLE)"} AS min_num,
           {f"round(CAST(max({c}) AS DOUBLE), 4)" if kind == "num" else "CAST(NULL AS DOUBLE)"} AS max_num,
           {f"CAST(min({c}) AS VARCHAR)" if kind == "str" else "CAST(NULL AS VARCHAR)"} AS min_str,
           {f"CAST(max({c}) AS VARCHAR)" if kind == "str" else "CAST(NULL AS VARCHAR)"} AS max_str
    FROM lineitem
    """
    for c, kind in _PROFILE_COLS
)


@register("table_profile", _PROFILE_ORACLE)
def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile of lineitem: per-column null count, exact
    distinct count, typed min/max — the QA summary a pipeline
    materializes next to every corpus snapshot. One group-aggregate
    branch per column (distinct counting = group counting, no
    count_distinct Expand; string min/max fold over group keys so no
    raw-row SortAggregate) unioned into the profile — the same plan
    shape the columnar oracle picks, 2.2x the old two-pass design
    (see operators/profile.py for the measured graveyard)."""
    from .operators.profile import profile_table

    li = _t(spark, sf_dir, "lineitem")
    return profile_table(li, [c for c, _ in _PROFILE_COLS])

@register(
    "weighted_sample",
    """
    SELECT source, doc_id FROM (
      SELECT source, doc_id,
             row_number() OVER (
               PARTITION BY source
               ORDER BY -ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT + 1)
                            / 4503599627370496.0) / n_chars,
                        doc_id
             ) AS rn
      FROM documents
    ) WHERE rn <= 10
    """,
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement, 10 docs per
    source stratum, weight = n_chars (Efraimidis-Spirakis A-Res: rank by
    -ln(u)/w with u a hash-derived uniform — longer docs proportionally
    likelier). Fully reproducible across engines and runs because u
    comes from md5(doc_id), not an RNG; the plan is one window top-k per
    stratum, no global sort, no driver-side sampling state."""
    d = _t(spark, sf_dir, "documents")
    # _hash_uniform: the ONE definition of the hash->uniform transform
    # (duplicating its magic constant here once desynchronized from the
    # _HASH_U oracle string)
    # try_divide + NULLS LAST: a zero-length doc's weight key is NULL
    # (DuckDB's x/0), ranked LAST like the oracle's default ASC NULLS
    # LAST — Spark's NULLS-FIRST default would instead ALWAYS sample the
    # empty doc (r8); plain / is an ANSI DIVIDE_BY_ZERO abort
    key = F.try_divide(-F.log(_hash_uniform(F.col("doc_id"))), F.col("n_chars"))
    w = Window.partitionBy("source").orderBy(key.asc_nulls_last(), "doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("source", "doc_id")
    )

@register(
    "funnel_conversion_daily",
    """
    SELECT strftime(date_trunc('day', v.ts), '%Y-%m-%d') AS day,
           count(*) AS n_views,
           count(*) FILTER (
             EXISTS (
               SELECT 1 FROM events p
               WHERE p.event_type = 'purchase' AND p.user_id = v.user_id
                 AND p.ts >= v.ts AND p.ts < v.ts + INTERVAL 30 MINUTE
             )
           ) AS n_converted
    FROM events v WHERE v.event_type = 'view'
    GROUP BY 1
    """,
)
def q_funnel_conversion_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel attribution: daily count of 'view' events converted to a
    'purchase' by the same user within 30 minutes. The oracle states it
    as a correlated EXISTS (quadratic in events-per-user); the engine
    plans ONE shuffle on user_id — a ts-descending RANGE window takes
    the running min of future purchase timestamps, so each view row
    reads its next-purchase time directly (the as-of-join trick, reused
    forward). RANGE (not ROWS) frame: purchases at the exact same ts
    must be visible to the view row."""
    ev = _events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").desc())
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    nxt = F.min(
        F.when(F.col("event_type") == "purchase", F.col("ts"))
    ).over(w)
    return (
        ev.withColumn("next_purchase_ts", nxt)
        .filter(F.col("event_type") == "view")
        .groupBy(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_views"),
            F.count(
                F.when(
                    F.col("next_purchase_ts")
                    < F.col("ts") + F.expr("INTERVAL 30 MINUTES"),
                    1,
                )
            ).alias("n_converted"),
        )
    )

@register(
    "cohort_retention",
    """
    WITH a AS (
      SELECT DISTINCT user_id, date_trunc('day', ts) AS ad
      FROM events WHERE event_type = 'purchase'
    ),
    m AS (
      SELECT user_id, ad, min(ad) OVER (PARTITION BY user_id) AS cd FROM a
    ),
    cells AS (
      SELECT cd, date_diff('day', cd, ad) AS day_offset, count(*) AS n_active
      FROM m GROUP BY 1, 2
    )
    SELECT strftime(cd, '%Y-%m-%d') AS cohort_day, day_offset, n_active,
           round(n_active / (max(CASE WHEN day_offset = 0 THEN n_active END)
                             OVER (PARTITION BY cd)), 4) AS retention
    FROM cells
    """,
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users cohorted by first-purchase day,
    each cell = how many of that cohort purchased again ``day_offset``
    days later, as a fraction of the cohort. Join-free plan: one
    distinct over (user, day) — the only corpus-sized shuffle — then a
    per-user window min for the cohort day and a cells-sized groupBy.
    The cohort SIZE is not a separate aggregation: every user is active
    on their own first day by construction, so the offset-0 cell IS the
    cohort size, read back with a window over the tiny matrix instead of
    a join against a second scan. At 100 TB the matrix is
    days x days-sized regardless of corpus size."""
    ev = _events(spark, sf_dir).filter(F.col("event_type") == "purchase")
    act = ev.select("user_id", F.date_trunc("day", "ts").alias("ad")).distinct()
    m = act.withColumn("cd", F.min("ad").over(Window.partitionBy("user_id")))
    cells = m.groupBy(
        "cd", F.datediff("ad", "cd").cast("long").alias("day_offset")
    ).agg(F.count(F.lit(1)).alias("n_active"))
    cohort_n = F.max(
        F.when(F.col("day_offset") == 0, F.col("n_active"))
    ).over(Window.partitionBy("cd"))
    return cells.select(
        F.date_format("cd", "yyyy-MM-dd").alias("cohort_day"),
        "day_offset",
        "n_active",
        F.round(F.col("n_active") / cohort_n, 4).alias("retention"),
    )


@register(
    "event_transition_matrix",
    """
    WITH nxt AS (
      SELECT event_type AS src_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS dst_type
      FROM events
    ),
    cells AS (
      SELECT src_type, dst_type, count(*) AS n
      FROM nxt WHERE dst_type IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT src_type, dst_type, n,
           round(n / (sum(n) OVER (PARTITION BY src_type)), 4) AS p
    FROM cells
    """,
)
def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams:
    P(next event type | current type), the behavioral-analytics
    companion to the funnel/cohort/session family. One shuffle on
    user_id for the lead window (tiebreak on event_id makes the order
    total), then a matrix-sized groupBy; row-normalization is a window
    over the |types|^2 matrix, not the corpus. Last event per user has
    no successor and is excluded."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cells = (
        ev.select(
            F.col("event_type").alias("src_type"),
            F.lead("event_type").over(w).alias("dst_type"),
        )
        .filter(F.col("dst_type").isNotNull())
        .groupBy("src_type", "dst_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    row_total = F.sum("n").over(Window.partitionBy("src_type"))
    return cells.select(
        "src_type", "dst_type", "n", F.round(F.col("n") / row_total, 4).alias("p")
    )


@register(
    "skyline_pareto",
    """
    WITH s AS (
      SELECT l_suppkey AS suppkey,
             round(avg(l_extendedprice), 4) AS avg_price,
             round(avg(l_discount), 4) AS avg_discount
      FROM lineitem GROUP BY 1
    )
    SELECT suppkey, avg_price, avg_discount
    FROM s a
    WHERE NOT EXISTS (
      SELECT 1 FROM s b
      WHERE b.avg_price <= a.avg_price AND b.avg_discount >= a.avg_discount
        AND (b.avg_price < a.avg_price OR b.avg_discount > a.avg_discount)
    )
    """,
)
def q_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier Pareto frontier: cheapest-vs-most-discounting tradeoff —
    suppliers not strictly dominated on (min avg price, max avg
    discount). The oracle states the textbook NOT EXISTS self-join
    (quadratic); the engine's `skyline_2d` is the linear sort-order
    plan — distinct pairs range-partitioned in lex order, per-partition
    prefix mins with a broadcast cross-partition carry-in, never a
    single-reducer global window and never a self-join. The frontier is
    tiny by nature, so re-attaching supplier rows is a broadcast semi
    join.

    The per-supplier aggregate is MATERIALIZED once (supplier-sized)
    and both the skyline pass and the rejoin read the cached table:
    computing `s` twice would re-run a shuffle-order-dependent float
    avg whose round(.,4) could land differently at a 1e-4 boundary and
    silently drop a frontier supplier at the semi-join — one
    materialization makes the join keys bit-identical by construction
    (and saves the second aggregation of the fact table)."""

    from .caching import materialize_and_release
    from .operators.relational import skyline_2d

    li = _t(spark, sf_dir, "lineitem")
    s = li.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.round(F.avg("l_discount"), 4).alias("avg_discount"),
    ).transform(maybe_persist)
    sky = skyline_2d(s, "avg_price", "avg_discount", max_y=True)
    out = s.join(F.broadcast(sky), ["avg_price", "avg_discount"], "semi").select(
        "suppkey", "avg_price", "avg_discount"
    )
    return materialize_and_release(out, s)


_HASH_U = (
    "(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT + 1)"
    " / 4503599627370496.0"
)


def _hash_uniform(col: Column) -> Column:
    """Deterministic uniform(0,1] from the row id — the engine-portable
    replacement for an RNG in sampling operators (same value on any
    engine, any run, any partitioning)."""
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 13), 16, 10).cast("long")
        + F.lit(1)
    ) / F.lit(4503599627370496.0)


@register(
    "mixture_resample",
    f"""
    WITH kept AS (
      SELECT source, doc_id,
             CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0
                  THEN 0.25 ELSE 0.75 END AS rate
      FROM documents
      WHERE {_HASH_U} < CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0
                             THEN 0.25 ELSE 0.75 END
    )
    SELECT source, rate, count(*) AS n_kept
    FROM kept GROUP BY source, rate
    """,
)
def q_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixture re-weighting: each source stratum is Bernoulli-
    downsampled to its target mixing rate (even-numbered sources 25%,
    odd 75%) using the hash-derived uniform — the deterministic,
    cluster-order-independent form of training-data mixture sampling.
    No shuffle until the per-source summary: the keep decision is a
    map-side filter on the scan."""
    d = _t(spark, sf_dir, "documents")
    rate = F.when(
        (F.substring("source", 4, 10).cast("int") % 2) == 0, F.lit(0.25)
    ).otherwise(F.lit(0.75))
    return (
        d.withColumn("rate", rate)
        .filter(_hash_uniform(F.col("doc_id")) < F.col("rate"))
        .groupBy("source", "rate")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )


@register(
    "pack_sequences",
    """
    SELECT doc_id, source,
           CAST(floor(CAST(cum - n_tokens AS DOUBLE) / 256) AS BIGINT) AS bin_id,
           (cum - n_tokens) % 256 AS bin_offset
    FROM (
      SELECT doc_id, source,
             CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens,
             CAST(sum(len(string_split(trim(text), ' '))) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum
      FROM documents
    )
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing: per source, documents are concatenated in
    deterministic (doc_id) order and each doc is assigned the 256-token
    training bin where its first token lands, plus its offset in that
    bin — the bookkeeping a pretraining pipeline materializes to pack
    short documents into fixed context windows. One shuffle (window per
    source); the running token cumsum is a ROWS frame, no self-join."""
    d = _t(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.trim(F.col("text")), " ")).cast("long")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        d.select("doc_id", "source", n_tok.alias("n_tokens"))
        .withColumn("cum", F.sum("n_tokens").over(w).cast("long"))
        .select(
            "doc_id",
            "source",
            F.floor((F.col("cum") - F.col("n_tokens")).cast("double") / 256).alias("bin_id"),
            ((F.col("cum") - F.col("n_tokens")) % 256).alias("bin_offset"),
        )
    )

def _duck_cos(a: str, b: str, dim: int) -> str:
    return f"""
      round(
        list_sum(list_transform(generate_series(1, {dim}),
                 i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))
        / (sqrt(list_sum(list_transform(generate_series(1, {dim}),
                 i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE))))
         * sqrt(list_sum(list_transform(generate_series(1, {dim}),
                 i -> CAST({b}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))))), 4)
    """


@register(
    "ann_two_stage",
    f"""
    WITH q AS (
      SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 5
    ),
    stage1 AS (
      SELECT q_id, q_vec, n_id, n_vec, coarse_sim FROM (
        SELECT q.q_id, q.q_vec, e.vec_id AS n_id, e.embedding AS n_vec,
               {_duck_cos("q.q_vec", "e.embedding", 16)} AS coarse_sim,
               row_number() OVER (
                 PARTITION BY q.q_id
                 ORDER BY {_duck_cos("q.q_vec", "e.embedding", 16)} DESC, e.vec_id
               ) AS rn
        FROM q CROSS JOIN embeddings e
      ) WHERE rn <= 20
    )
    SELECT q_id, n_id, sim, rank FROM (
      SELECT q_id, n_id, {_duck_cos("q_vec", "n_vec", 64)} AS sim,
             CAST(row_number() OVER (
               PARTITION BY q_id
               ORDER BY {_duck_cos("q_vec", "n_vec", 64)} DESC, n_id
             ) AS BIGINT) AS rank
      FROM stage1
    ) WHERE rank <= 5
    """,
)
def q_ann_two_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coarse-to-fine two-stage retrieval (the matryoshka-embedding
    pattern): stage 1 scores the corpus on only the first 16 embedding
    dimensions (4x cheaper per pair) and keeps top-20 candidates per
    query; stage 2 reranks those 20 on all 64 dimensions to the final
    top-5. At 100 TB the coarse pass is the only corpus-wide scan and
    its per-pair cost dominates total work, so truncating it is a
    near-4x saving for ~no recall loss on prefix-trained embeddings."""
    from .functions.vector import cosine, dot, norm

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        norm(F.slice(F.col("embedding"), 1, 16)).alias("q_nm16"),
    )
    # coarse norms precomputed per ROW (per-row-invariant rule): the
    # coarse pass is the corpus-wide scan, so folding both 16-dim norms
    # per PAIR would triple its array-fold work; norm(q)*norm(n)
    # multiplies the same doubles either way — values unchanged
    coarse = F.round(
        # try_divide: zero-norm 16-dim prefix -> NULL coarse sim (ranked
        # last), not an ANSI DIVIDE_BY_ZERO job abort (r8)
        F.try_divide(
            dot(F.slice(F.col("q_vec"), 1, 16), F.slice(F.col("n_vec"), 1, 16)),
            F.col("q_nm16") * F.col("n_nm16"),
        ),
        4,
    )
    w1 = Window.partitionBy("q_id").orderBy(coarse.desc(), "n_id")
    stage1 = (
        q.crossJoin(
            e.select(
                F.col("vec_id").alias("n_id"),
                F.col("embedding").alias("n_vec"),
                norm(F.slice(F.col("embedding"), 1, 16)).alias("n_nm16"),
            )
        )
        .withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") <= 20)
    )
    fine = F.round(cosine(F.col("q_vec"), F.col("n_vec")), 4)
    w2 = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), "n_id")
    return (
        stage1.select("q_id", "n_id", fine.alias("sim"))
        .withColumn("rank", F.row_number().over(w2).cast("long"))
        .filter(F.col("rank") <= 5)
    )

@register(
    "dedup_containment",
    f"""
    WITH corpus AS (
      SELECT doc_id AS doc, text FROM documents
      UNION ALL
      SELECT doc_id + 100000, array_to_string(t[1:len(t)//2], ' ')
      FROM (SELECT doc_id, string_split({_NORM}, ' ') AS t FROM documents)
    ),
    toks AS (SELECT doc, string_split({_NORM}, ' ') AS t FROM corpus),
    sh AS (SELECT doc, {_SHINGLES} AS shingles FROM toks WHERE len(t) >= 2),
    hx AS (
      SELECT DISTINCT doc, {_HEX1} AS h1
      FROM (SELECT doc, md5(s) AS m FROM (SELECT doc, unnest(shingles) AS s FROM sh))
    ),
    sizes AS (SELECT doc, count(*) AS n_sh FROM hx GROUP BY doc),
    shared AS (
      SELECT a.doc AS id_a, b.doc AS id_b, count(*) AS n_shared
      FROM hx a JOIN hx b ON a.h1 = b.h1 AND a.doc <> b.doc
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, containment FROM (
      SELECT id_a, id_b,
             floor(n_shared / s.n_sh * 10000 + 0.5) / 10000.0 AS containment
      FROM shared JOIN sizes s ON s.doc = id_a
    ) WHERE containment >= 0.8
    """,
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional containment dedup: flags docs whose shingle set is
    ≥80% contained in another doc — the partial-copy case (excerpts,
    quotes, boilerplate wrappers) that symmetric Jaccard misses. Corpus
    = documents ∪ the first half of each doc (ids offset), so every
    excerpt is a true containment hit against its source. Inverted-
    index postings join — never all-pairs."""
    from .operators.dedup import containment_pairs

    corpus = _containment_corpus(spark, sf_dir)
    return containment_pairs(corpus, "text", "doc", threshold=0.8)


def _containment_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ the first half of each doc (ids offset by 100000) —
    the adversarial corpus both containment queries share: every excerpt
    is a true containment hit against its source."""
    d = _t(spark, sf_dir, "documents")
    excerpt = d.select(
        (F.col("doc_id") + 100000).alias("doc"),
        F.expr(
            "array_join(slice(split(" + _EXPR_STRIP + ", '" + _EXPR_WS + "+'), 1,"
            " CAST(floor(size(split(" + _EXPR_STRIP + ", '" + _EXPR_WS + "+')) / 2) AS INT)), ' ')"
        ).alias("text"),
    )
    return d.select(F.col("doc_id").alias("doc"), "text").unionByName(excerpt)


_CONTAINMENT_CORPUS_SQL = f"""
      SELECT doc_id AS doc, text FROM documents
      UNION ALL
      SELECT doc_id + 100000, array_to_string(t[1:len(t)//2], ' ')
      FROM (SELECT doc_id, string_split({_NORM}, ' ') AS t FROM documents)
"""


@register(
    "dedup_containment_banded",
    f"""
    WITH corpus AS ({_CONTAINMENT_CORPUS_SQL}),
    toks AS (SELECT doc, string_split({_NORM}, ' ') AS t FROM corpus),
    sh AS (SELECT doc, {_SHINGLES} AS shingles FROM toks WHERE len(t) >= 2),
    hx AS (
      SELECT doc, {_HEXX} AS x, {_HEX1} AS h1
      FROM (SELECT doc, md5(s) AS m FROM (SELECT doc, unnest(shingles) AS s FROM sh))
    ),
    sig AS (
      SELECT doc,
             {", ".join(
                f"min(({a} * x + {b}) % {MINHASH_P}) AS sig_{i}"
                for i, (a, b) in enumerate(minhash_coeffs(12))
             )},
             list(DISTINCT h1) AS hset
      FROM hx GROUP BY doc
    ),
    bands AS (
      {" UNION ALL ".join(
          "SELECT doc, %d AS band_id, %s AS band_key FROM sig"
          % (b, " || '|' || ".join(f"sig_{4*b+j}" for j in range(4)))
          for b in range(3)
      )}
    ),
    cand AS (
      SELECT DISTINCT a.doc AS id_a, b.doc AS id_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc <> b.doc
    ),
    verified AS (
      SELECT c.id_a, c.id_b,
             floor(len(list_intersect(sa.hset, sb.hset))::DOUBLE /
                   len(sa.hset) * 10000 + 0.5) / 10000.0 AS containment
      FROM cand c
      JOIN sig sa ON sa.doc = c.id_a
      JOIN sig sb ON sb.doc = c.id_b
    )
    SELECT id_a, id_b, containment FROM verified WHERE containment >= 0.8
    """,
)
def q_dedup_containment_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate directional containment: MinHash-banded candidate
    generation (linear, the 100 TB escape hatch for corpora where exact
    prefix filtering degenerates) + the SAME exact verify as
    `dedup_containment`. The oracle replays the banding, so the hash
    match proves the implementation exact; the RECALL contract (which
    true pairs can miss candidacy, as a function of symmetric Jaccard)
    is documented on `operators.dedup.containment_pairs_banded`. Same
    adversarial corpus as the exact query — the two results' difference
    IS the documented recall trade."""
    from .operators.dedup import containment_pairs_banded

    corpus = _containment_corpus(spark, sf_dir).filter(F.size(_text_tokens()) >= 2)
    return containment_pairs_banded(
        corpus, "text", "doc", threshold=0.8, n_perm=12, band_size=4
    )


def _duck_band(j: int, bits: int = 4) -> str:
    """Packed sign bits of embedding components [j*bits+1 .. j*bits+bits]
    — must mirror functions.vector.band_sign_bucket exactly."""
    return " + ".join(
        f"(CASE WHEN CAST(embedding[{j * bits + i + 1}] AS DOUBLE) >= 0"
        f" THEN {1 << i} ELSE 0 END)"
        for i in range(bits)
    )


@register(
    "dedup_cluster_assign_lsh",
    f"""
    WITH RECURSIVE base AS (
      SELECT label, vec_id AS id, embedding,
             {_duck_band(0)} AS b0, {_duck_band(1)} AS b1,
             {_duck_band(2)} AS b2, {_duck_band(3)} AS b3
      FROM embeddings
    ),
    bands AS (
      SELECT label, id, band,
             CASE band WHEN 0 THEN b0 WHEN 1 THEN b1
                       WHEN 2 THEN b2 ELSE b3 END AS bucket
      FROM base CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band)
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM bands a JOIN bands b
        ON a.label = b.label AND a.band = b.band
       AND a.bucket = b.bucket AND a.id < b.id
    ),
    pairs AS (
      SELECT id_a, id_b FROM (
        SELECT id_a, id_b,
               round(
                 list_sum(list_transform(generate_series(1, 64),
                          i -> CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(generate_series(1, 64),
                          i -> CAST(x.embedding[i] AS DOUBLE) * CAST(x.embedding[i] AS DOUBLE))))
                  * sqrt(list_sum(list_transform(generate_series(1, 64),
                          i -> CAST(y.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE))))), 4)
                 AS sim
        FROM cand JOIN base x ON x.id = cand.id_a
                  JOIN base y ON y.id = cand.id_b
      ) WHERE sim >= 0.35
    ),
    edges AS (
      SELECT id_a AS s, id_b AS d FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    reach(node, label) AS (
      SELECT DISTINCT s, s FROM edges
      UNION
      SELECT e.d, r.label FROM reach r JOIN edges e ON e.s = r.node
    ),
    labels AS (
      SELECT node, min(label) AS cluster_id FROM reach GROUP BY node
    )
    SELECT node, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM labels
    """,
)
def q_dedup_cluster_assign_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE PATH for near-dup clustering: pair generation via
    sign-LSH bands (4 bands x 4 sign bits, candidates = agree on any
    band within a label block) instead of the blocked all-pairs join of
    `dedup_cluster_assign` — linear candidate generation, then exact
    cosine verify and the same distributed connected components. The
    banding is deterministic (signs of the data), so the DuckDB oracle
    reproduces the candidate set exactly; verified similarities are
    identical to the exact join's for every surviving pair."""
    from .operators.dedup import banded_embedding_pairs, connected_components

    e = _t(spark, sf_dir, "embeddings")
    pairs = banded_embedding_pairs(
        e, "embedding", "vec_id", block_col="label", threshold=0.35
    )
    cc = connected_components(pairs)
    w = Window.partitionBy("cluster_id")
    return cc.withColumn("cluster_size", F.count(F.lit(1)).over(w).cast("long"))


_CONTAINMENT_ORACLE = """
    WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         osz AS (SELECT o, CAST(count(*) AS INTEGER) AS n_parts FROM op GROUP BY o),
         sp AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
         shared AS (
           SELECT op.o, sp.s, count(*) AS n_shared
           FROM op JOIN sp ON op.p = sp.p
           GROUP BY 1, 2
         )
    SELECT shared.o AS orderkey, shared.s AS suppkey, osz.n_parts
    FROM shared JOIN osz ON osz.o = shared.o
    WHERE n_shared = n_parts AND n_parts >= 2
    """


@register("set_containment_join", _CONTAINMENT_ORACLE)
def q_set_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-containment join: (order, supplier) pairs where the order's
    distinct part set is entirely within the supplier's supplied-part
    set ("one supplier could fulfill the whole order"). The sets are
    born relational — (id, part) postings — and the supplier dimension
    is small and dense, which is exactly the bitmap strategy's regime:
    per-part supplier bitmaps, broadcast, AND-folded per order. No
    collect_set arrays (the array API re-explodes them — measured 17x
    slower), and no per-candidate-pair aggregation (the postings
    count-equality plan builds 17M groups here — measured 5x slower).
    The strategy pick is automatic: `set_containment_join_auto`
    dispatches on right-id bounds — bitmap for this packed 1k-supplier
    space, the general postings plan for unbounded id spaces — and the
    bounds come from the parquet FOOTER stats of the scanned l_suppkey
    column (planning-time, no runtime probe job; the warehouse-optimizer
    catalog-stats shortcut). `set_containment_prefix` is the
    sparse-vocabulary scale path (same oracle shape)."""
    from .operators.relational import set_containment_join_auto
    from .sources.stats import parquet_column_bounds

    li = _t(spark, sf_dir, "lineitem")
    op = li.select(F.col("l_orderkey").alias("orderkey"), F.col("l_partkey").alias("_el"))
    sp = li.select(F.col("l_suppkey").alias("suppkey"), F.col("l_partkey").alias("_el"))
    bounds = parquet_column_bounds(f"{sf_dir}/lineitem.parquet", "l_suppkey")
    return (
        # footer bounds → bitmap strategy picked with zero runtime probe;
        # a stats-free file falls back to the runtime min/max aggregation
        set_containment_join_auto(op, "orderkey", sp, "suppkey", right_id_bounds=bounds)
        .filter(F.col("n_left") >= 2)
        # int cast: |set| is int32 in the array API (F.size) and the oracle
        .select("orderkey", "suppkey", F.col("n_left").cast("int").alias("n_parts"))
    )


@register(
    "set_containment_prefix",
    f"""
    WITH toks AS (SELECT doc_id, string_split({_NORM}, ' ') AS t FROM documents),
    ex AS (
      SELECT doc_id AS ex_id,
             list_distinct([t2[i] || ' ' || t2[i+1] || ' ' || t2[i+2]
                            for i in generate_series(1, len(t2) - 2)]) AS sh
      FROM (SELECT doc_id, t[1:12] AS t2 FROM toks WHERE len(t) >= 13)
    ),
    fdoc AS (SELECT doc_id AS doc,
                    list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                   for i in generate_series(1, len(t) - 2)]) AS shingles
             FROM toks WHERE len(t) >= 3),
    lp AS (SELECT ex_id, unnest(sh) AS s FROM ex),
    rp AS (SELECT doc, unnest(shingles) AS s FROM fdoc),
    shared AS (SELECT ex_id, doc, count(*) AS ns FROM lp JOIN rp USING (s)
               GROUP BY 1, 2)
    SELECT shared.ex_id, shared.doc, l.n_shingles
    FROM shared
    JOIN (SELECT ex_id, CAST(len(sh) AS INTEGER) AS n_shingles FROM ex) l
      USING (ex_id)
    WHERE ns = n_shingles
    """,
)
def q_set_containment_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPJoin prefix-filter containment join on its HOME regime — sparse
    text-shingle sets: which documents fully contain the trigram-shingle
    set of each doc's 12-token excerpt (excerpt/quotation detection as
    exact set containment). Candidates come only from each excerpt's
    globally RAREST shingle (document-frequency broadcast + min_by),
    then exact array_except verify. Trigram shingles deliberately: this
    corpus's BIGRAM vocabulary is only ~900 shingles (min-DF ~260 — the
    dense regime, measured 13 s because candidates ~ co-occurrences),
    while trigrams give ~27k shingles with min-DF ~4, so candidates
    collapse to ~4 per excerpt. Shingle width is the knob that buys the
    sparse regime. The dense-dimension case, where the postings baseline
    wins instead, is `set_containment_join`."""

    from .functions.text import token_shingles
    from .operators.relational import set_containment_join_prefix

    d = _t(spark, sf_dir, "documents")
    norm_toks = F.split(
        _norm_text(), " "
    )
    excerpts = d.filter(F.size(norm_toks) >= 13).select(
        F.col("doc_id").alias("ex_id"),
        token_shingles(F.array_join(F.slice(norm_toks, 1, 12), " "), 3).alias("sh"),
    ).transform(maybe_persist)
    docs = d.select(
        F.col("doc_id").alias("doc"), token_shingles(F.col("text"), 3).alias("sh")
    ).transform(maybe_persist)
    # each side feeds the operator twice (postings + verify rejoin):
    # persist so the normalize+shingle+distinct chain runs once per side
    # instead of twice (keep_best playbook; caches released on return)
    out = set_containment_join_prefix(
        excerpts, "ex_id", "sh", docs, "doc", "sh"
    ).select("ex_id", "doc", F.col("n_left").alias("n_shingles"))
    from .caching import materialize_and_release

    return materialize_and_release(out, excerpts, docs)


@register(
    "csv_json_roundtrip",
    """
    SELECT r_name, CAST(count(*) AS BIGINT) AS n_customers,
           round(avg(c_acctbal), 4) AS avg_acctbal
    FROM customer
    JOIN nation ON n_nationkey = c_nationkey
    JOIN region ON r_regionkey = n_regionkey
    GROUP BY r_name
    """,
)
def q_csv_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-parquet source/sink round-trip: nation is written to CSV
    (header, explicit schema on read — never inferSchema, which is a
    second full scan and type-unstable at scale) and region to JSON
    lines, both read back and joined to the parquet customer table. The
    oracle runs on the parquet originals, so a hash match proves the
    round-trip is lossless. Sinks go under the engine's scratch dir;
    at scale the same writers target object storage with partitionBy."""
    import os
    import tempfile

    scratch = os.path.join(
        tempfile.gettempdir(), f"catlas_roundtrip_{os.getpid()}"
    )
    nation, region = _t(spark, sf_dir, "nation"), _t(spark, sf_dir, "region")
    csv_dir, json_dir = f"{scratch}/nation_csv", f"{scratch}/region_json"
    nation.write.mode("overwrite").option("header", True).csv(csv_dir)
    region.write.mode("overwrite").json(json_dir)
    nation_rt = spark.read.schema(
        "n_nationkey int, n_name string, n_regionkey int"
    ).option("header", True).csv(csv_dir)
    region_rt = spark.read.schema("r_regionkey int, r_name string").json(json_dir)
    c = _t(spark, sf_dir, "customer")
    return (
        c.join(
            F.broadcast(nation_rt),
            nation_rt["n_nationkey"] == c["c_nationkey"],
        )
        .join(
            F.broadcast(region_rt),
            region_rt["r_regionkey"] == nation_rt["n_regionkey"],
        )
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.avg("c_acctbal"), 4).alias("avg_acctbal"),
        )
    )


@register(
    "grouped_bootstrap_sample",
    """
    WITH ranked AS (
      SELECT lang, doc_id,
             row_number() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents
    ),
    sizes AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
    picks AS (
      SELECT lang, k AS draw,
             CAST(('0x' || substr(md5(lang || ':' || CAST(k AS VARCHAR)), 1, 7))::BIGINT
                  % n AS BIGINT) + 1 AS rn
      FROM sizes CROSS JOIN (SELECT unnest(generate_series(1, 30)) AS k)
    )
    SELECT p.lang, p.draw, r.doc_id
    FROM picks p JOIN ranked r ON r.lang = p.lang AND r.rn = p.rn
    """,
)
def q_grouped_bootstrap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped reservoir sampling WITH replacement (bootstrap resample):
    30 draws per language stratum; draw k picks rank
    md5(lang:k) mod group_size over a hash-ordered ranking, so the
    sample is deterministic and engine-portable (no RNG state). Scale
    shape: one window to rank, one tiny draws table (groups x 30)
    joined back on (group, rank) — no per-draw shuffle, no collect;
    the same plan bootstraps per-group metrics at 100 TB where true
    reservoir UDAFs would serialize Python state."""
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    ranked = (
        d.select("lang", "doc_id")
        .withColumn("rn", F.row_number().over(w).cast("long"))
    )
    sizes = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    picks = sizes.select(
        "lang",
        F.explode(F.sequence(F.lit(1), F.lit(30))).alias("k"),
        "n",
    ).select(
        "lang",
        F.col("k").cast("long").alias("draw"),
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("lang"), F.lit(":"), F.col("k").cast("string"))),
                    1,
                    7,
                ),
                16,
                10,
            ).cast("long")
            % F.col("n")
            + 1
        ).alias("rn"),
    )
    return picks.join(ranked, ["lang", "rn"]).select("lang", "draw", "doc_id")


@register(
    "streaming_interval_join",
    """
    WITH c AS (SELECT user_id, event_id AS click_id, ts AS click_ts
               FROM events WHERE event_type = 'click'),
         p AS (SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
               FROM events WHERE event_type = 'purchase')
    SELECT p.purchase_id, c.click_id, p.user_id
    FROM p JOIN c ON c.user_id = p.user_id
       AND c.click_ts <= p.purchase_ts
       AND c.click_ts >= p.purchase_ts - INTERVAL 1 HOUR
    """,
)
def q_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join through the REAL readStream path:
    clicks and purchases split from the watermarked event stream, each
    purchase matched to the same user's clicks in the preceding hour
    (SURVEY §2's streaming surface; the batch oracle is the plain
    interval join, so the hash match proves the streaming plan emits
    exactly the batch semantics on a finite source). State is bounded
    by the two-sided watermark, so the same query runs indefinitely on
    an unbounded source; append-mode sink because join matches are
    emitted as they arrive."""
    from .streaming.events import (
        click_purchase_join,
        read_event_stream,
        run_batch_like_stream,
    )

    stream = read_event_stream(spark, f"{sf_dir}/events*.parquet")
    out = run_batch_like_stream(
        click_purchase_join(stream),
        "gate_interval_join",
        output_mode="append",
        state_partitions=4,
        # INNER join: matches emit on arrival; the trailing no-data
        # batch only evicts state a finite run discards (rows identical
        # with/without, measured) — the left-outer variant keeps it
        no_data_batches=False,
    )
    return out.select("purchase_id", "click_id", "user_id")


@register(
    "incremental_dedup_memo",
    f"""
    WITH base AS (SELECT doc_id, text FROM documents),
         delta AS (
           SELECT doc_id + 100000 AS doc_id, text
           FROM documents WHERE doc_id % 3 = 0
           UNION ALL
           SELECT doc_id + 100000 AS doc_id, text || ' v2' AS text
           FROM documents WHERE doc_id % 3 = 1
         ),
         bfp AS (SELECT substr(md5({_NORM}), 1, 16) AS fp, min(doc_id) AS keep_id
                 FROM base GROUP BY 1),
         dfp AS (SELECT doc_id, substr(md5({_NORM}), 1, 16) AS fp FROM delta)
    SELECT d.doc_id, CAST(coalesce(b.keep_id, -1) AS BIGINT) AS dup_of
    FROM dfp d LEFT JOIN bfp b USING (fp)
    """,
)
def q_incremental_dedup_memo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-corpus dedup on the memo table (the reference's
    killer feature — sqlitedict memoization, catlas/cache_utils.py:137-218
    — as a join against a persistent parquet memo; SURVEY §2.13/R4).

    Scenario: the base corpus is fingerprinted once (memo populated);
    a delta batch arrives containing re-crawled copies (identical text)
    and revised docs (text changed). The delta's fingerprint pass hits
    the memo for every re-crawled text — only genuinely new content is
    recomputed — and each delta doc is then marked with the base doc it
    duplicates (-1 = novel). At 100 TB the memo is a partitioned
    parquet dataset and the hit-join is one hash shuffle on the
    xxhash64 content key; re-ingesting an unchanged crawl costs a join,
    not a recompute."""
    import os
    import tempfile

    from .functions.text import fingerprint
    from .memo import memoize

    scratch = os.path.join(
        tempfile.gettempdir(),
        f"catlas_fp_memo_{os.getpid()}_{abs(hash(sf_dir)) % 10**8}",
    )
    d = _t(spark, sf_dir, "documents")
    base = d.select("doc_id", "text")
    delta = (
        d.filter(F.col("doc_id") % 3 == 0)
        .select((F.col("doc_id") + 100000).alias("doc_id"), "text")
        .unionByName(
            d.filter(F.col("doc_id") % 3 == 1).select(
                (F.col("doc_id") + 100000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" v2")).alias("text"),
            )
        )
    )

    def compute_fp(df: DataFrame) -> DataFrame:
        return df.withColumn("fp", fingerprint(F.col("text")))

    base_fp = memoize(spark, base, ["text"], compute_fp, scratch, version="fp1")
    keepers = base_fp.groupBy("fp").agg(F.min("doc_id").alias("keep_id"))
    # delta pass: re-crawled texts are memo HITS (no recompute)
    delta_fp = memoize(spark, delta, ["text"], compute_fp, scratch, version="fp1")
    # returned lazy: at sf0.1 materializing this (delta-sized) result
    # inside the build measured no faster than re-planning the serving
    # joins in the caller's action (median 2.26 vs 2.36 s, local[4])
    return delta_fp.join(keepers, "fp", "left").select(
        "doc_id", F.coalesce("keep_id", F.lit(-1)).cast("long").alias("dup_of")
    )


_BANNER = "subscribe now click here to continue reading the full article"


@register(
    "dedup_paragraph_chunks",
    f"""
    WITH corpus AS (
      SELECT doc_id,
             CASE WHEN doc_id % 4 = 0 THEN '{_BANNER} ' || text ELSE text END AS text
      FROM documents
    ),
    toks AS (SELECT doc_id, string_split({_NORM}, ' ') AS t FROM corpus),
    cl AS (
      SELECT doc_id,
             [array_to_string(t[(i*10+1):(i*10+10)], ' ')
              for i in generate_series(0, CAST(ceil(len(t)/10.0) AS INT) - 1)] AS cs
      FROM toks
    ),
    chunks AS (SELECT doc_id, unnest(cs) AS chunk FROM cl),
    dfreq AS (SELECT chunk, count(DISTINCT doc_id) AS nd FROM chunks GROUP BY 1)
    SELECT c.doc_id, count(*) AS n_chunks,
           CAST(sum(CASE WHEN dfreq.nd >= 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_boilerplate,
           floor(CAST(sum(CASE WHEN dfreq.nd >= 5 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*) * 10000 + 0.5) / 10000 AS boiler_frac
    FROM chunks c JOIN dfreq USING (chunk)
    GROUP BY 1
    """,
)
def q_dedup_paragraph_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level boilerplate detection (C4/RefinedWeb-style line
    dedup): fixed 10-token chunks, document-frequency >= 5 distinct docs
    => boilerplate. Corpus: every 4th doc gets a 10-token banner
    PREPENDED, so the banner aligns at chunk 0 and is caught — the
    shift-sensitivity caveat (an APPENDED banner would be missed) is the
    documented contrast with dedup_cdc_chunks. One explode + two
    map-side-combinable groupBys; never all-pairs."""
    from .operators.dedup import chunk_dedup_stats

    d = _t(spark, sf_dir, "documents")
    corpus = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 4 == 0, F.concat(F.lit(_BANNER + " "), F.col("text"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return chunk_dedup_stats(corpus, "text", "doc_id", chunk_tokens=10, min_docs=5).select(
        F.col("doc").alias("doc_id"), "n_chunks", "n_boilerplate", "boiler_frac"
    )


@register(
    "dedup_cdc_chunks",
    f"""
    WITH corpus AS (
      SELECT doc_id,
             CASE WHEN doc_id % 4 = 0 THEN text || ' {_BANNER}' ELSE text END AS text
      FROM documents
    ),
    toks AS (
      SELECT doc_id, unnest(t) AS tok, unnest(generate_series(1, len(t))) AS pos
      FROM (SELECT doc_id, string_split({_NORM}, ' ') AS t FROM corpus)
    ),
    chunked AS (
      SELECT doc_id, pos, tok,
             sum(CASE WHEN ('0x' || substr(md5(tok), 1, 7))::BIGINT % 4 = 0
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS chunk_id
      FROM toks
    ),
    chunks AS (
      SELECT doc_id, chunk_id, string_agg(tok, ' ' ORDER BY pos) AS chunk
      FROM chunked GROUP BY 1, 2
    ),
    dfreq AS (SELECT chunk, count(DISTINCT doc_id) AS nd FROM chunks GROUP BY 1)
    SELECT c.doc_id, count(*) AS n_chunks,
           CAST(sum(CASE WHEN dfreq.nd >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
           floor(CAST(sum(CASE WHEN dfreq.nd >= 5 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*) * 10000 + 0.5) / 10000 AS shared_frac
    FROM chunks c JOIN dfreq USING (chunk)
    GROUP BY 1
    """,
)
def q_dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (Rabin-style) shared-span detection: chunk
    boundaries chosen by token hash (md5 % 4 == 0), so chunks survive
    arbitrary offset shifts. Corpus: every 4th doc gets the banner
    APPENDED — misaligned for fixed windows, but CDC still yields
    identical banner-interior chunks in every doc, caught by the same
    document-frequency test. The storage-dedup technique applied to
    corpus text."""
    from .operators.dedup import cdc_chunk_stats

    d = _t(spark, sf_dir, "documents")
    corpus = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 4 == 0, F.concat(F.col("text"), F.lit(" " + _BANNER))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return cdc_chunk_stats(corpus, "text", "doc_id", boundary_mod=4, min_docs=5).select(
        F.col("doc").alias("doc_id"), "n_chunks", "n_shared", "shared_frac"
    )


@register(
    "streaming_session_windows",
    """
    WITH gaps AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM gaps
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
           count(*) AS n_events
    FROM sessions GROUP BY user_id, session_id
    """,
)
def q_streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window through the REAL readStream path, proven
    equivalent to the batch lag+cumsum sessionization: Spark merges an
    event into a session iff it lands strictly inside [start, last+gap),
    so the batch oracle opens a new session when the gap is >= 30
    minutes, and session_end = last event + gap. Cross-engine check of
    the session-merge semantics itself — not just row plumbing."""
    from .streaming.events import (
        read_event_stream,
        run_batch_like_stream,
        sessionized_stream,
    )

    stream = read_event_stream(spark, f"{sf_dir}/events*.parquet")
    out = run_batch_like_stream(
        sessionized_stream(stream), "gate_session_windows", state_partitions=4
    )
    return out.select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        "n_events",
    )


def _km_d2(v: str, c: str) -> str:
    """DuckDB: squared L2 as an in-order fold, snapped to the 1e-4 grid —
    mirrors the Spark zip_with/aggregate fold bit-for-bit (both engines
    left-fold doubles in array order)."""
    return (
        f"floor(list_sum([({v}[i] - {c}[i]) * ({v}[i] - {c}[i]) "
        f"for i in generate_series(1, len({v}))]) * 10000 + 0.5) / 10000"
    )


@register(
    "kmeans_ivf_train",
    f"""
    WITH v AS (
      SELECT vec_id AS vid, [CAST(x AS DOUBLE) for x in embedding] AS v
      FROM embeddings
    ),
    c0 AS (SELECT CAST(vid AS BIGINT) AS cid, v AS c FROM v ORDER BY vid LIMIT 8),
    s1 AS (
      SELECT v.vid, v.v, c0.cid, {_km_d2("v.v", "c0.c")} AS d2
      FROM v, c0
    ),
    a1 AS (
      SELECT vid, v, cid, d2
      FROM (SELECT *, row_number() OVER (PARTITION BY vid ORDER BY d2, cid) AS rk
            FROM s1)
      WHERE rk = 1
    ),
    m1 AS (
      SELECT cid, pos, floor(avg(x) * 10000 + 0.5) / 10000 AS m
      FROM (SELECT cid, unnest(v) AS x,
                   unnest(generate_series(1, len(v))) AS pos
            FROM a1)
      GROUP BY cid, pos
    ),
    c1 AS (SELECT cid, list(m ORDER BY pos) AS c FROM m1 GROUP BY cid),
    s2 AS (
      SELECT a.vid, a.v, c1.cid, {_km_d2("a.v", "c1.c")} AS d2
      FROM (SELECT vid, v FROM a1) a, c1
    ),
    a2 AS (
      SELECT vid, cid, d2
      FROM (SELECT *, row_number() OVER (PARTITION BY vid ORDER BY d2, cid) AS rk
            FROM s2)
      WHERE rk = 1
    )
    SELECT cid AS cluster_id, count(*) AS n_members, round(sum(d2), 2) AS inertia
    FROM a2
    GROUP BY cid
    """,
)
def q_kmeans_ivf_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means (k=8, 2 iterations) — the training step
    of an IVF ANN index, as pure DataFrame ops (broadcast cross join
    assignment + posexplode/groupBy centroid update; linear per
    iteration, corpus never leaves the executors). The oracle REPLAYS
    both iterations in SQL: deterministic init (k smallest ids),
    grid-snapped distances and means, id tie-breaks — so the hash match
    certifies the whole iterative algorithm, not just the final
    aggregation."""
    from .operators.similarity import kmeans_lloyd

    e = _t(spark, sf_dir, "embeddings")
    return kmeans_lloyd(e, "embedding", "vec_id", k=8, iters=2)


_SEMDEDUP_ORACLE = f"""
    WITH v AS (
      SELECT vec_id AS vid, [CAST(x AS DOUBLE) for x in embedding] AS v
      FROM embeddings
    ),
    c0 AS (SELECT CAST(vid AS BIGINT) AS cid, v AS c FROM v ORDER BY vid LIMIT 8),
    s AS (
      SELECT v.vid, v.v, c0.cid, {_km_d2("v.v", "c0.c")} AS d2
      FROM v, c0
    ),
    a AS (
      SELECT vid, v, cid, d2
      FROM (SELECT *, row_number() OVER (PARTITION BY vid ORDER BY d2, cid) AS rk
            FROM s)
      WHERE rk = 1
    ),
    r AS (
      SELECT vid, v, cid, d2,
             sqrt(list_sum([x * x for x in v])) AS nv,
             row_number() OVER (PARTITION BY cid ORDER BY d2, vid) AS rnk
      FROM a
    ),
    dup AS (
      SELECT DISTINCT x.vid
      FROM r x JOIN r y ON x.cid = y.cid AND y.rnk < x.rnk
      WHERE round(
              list_sum([x.v[i] * y.v[i] for i in generate_series(1, len(x.v))])
              / (x.nv * y.nv), 4) >= 0.38
    ),
    sizes AS (SELECT cid, count(*) AS n_cluster_members FROM r GROUP BY cid)
    SELECT r.vid AS vec_id, r.cid AS cluster_id, sizes.n_cluster_members
    FROM r JOIN sizes USING (cid)
    WHERE r.vid NOT IN (SELECT vid FROM dup)
"""


@register("dedup_semantic", _SEMDEDUP_ORACLE)
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic deduplication (cluster, then prune near-dups
    only within each cluster): pairwise work is O(sum c_i^2) instead of
    O(n^2), expressed as one equi-join on cluster id after a broadcast
    centroid assignment. The keeper heuristic is the paper's
    closest-to-centroid rule (priority = (d2, id)); a row is dropped iff
    a higher-priority cluster-mate has cosine >= 0.38. The oracle replays
    assignment, in-cluster ranking, and the pairwise prune in SQL, so
    the hash match certifies the whole composition — the same
    fixed-centroid convention `ann_ivf` uses, with training certified by
    `kmeans_ivf_train`. k=8 here IS the scale rule k ~ n/250 at this
    corpus size; at larger corpora k must grow with n so cluster size
    stays bounded (fixed k=8 measured 120 s at 10x vs 6 s with k=n/250 —
    scripts/stress.py runs the scaled variant)."""
    from .operators.similarity import semantic_dedup

    e = _t(spark, sf_dir, "embeddings")
    return semantic_dedup(e, "embedding", "vec_id", k=8, tau=0.38)


@register(
    "multimodal_resize",
    """
    WITH dims AS (
      SELECT doc_id, text, len(text) // 16 AS w
      FROM documents WHERE len(text) // 16 >= 1
    )
    SELECT doc_id, 16 AS src_h, CAST(w AS INTEGER) AS src_w,
           CAST(list_sum(
             list_transform(
               flatten([[ ((r * 2) * w + ((c * w) // 8)) + 1
                          for c in generate_series(0, 7)]
                         for r in generate_series(0, 7)]),
               p -> ascii(substr(text, CAST(p AS INTEGER), 1))
             )
           ) AS BIGINT) AS checksum
    FROM dims
    """,
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor image-resize plumbing (16 x w byte grid → 8 x 8):
    the resample index arithmetic runs as real numpy inside an
    Arrow-batched mapInPandas, and the oracle recomputes the sampled
    positions as ascii codes over the same bytes — verifying the
    resize geometry itself without comparing binaries. (r*2 = the
    (r*16)//8 row map.)"""
    from .operators.multimodal import attach_binary_payload, resize_nearest

    d = _t(spark, sf_dir, "documents")
    return resize_nearest(attach_binary_payload(d)).select(
        "doc_id", "src_h", "src_w", "checksum"
    )


@register(
    "streaming_static_enrich",
    """
    SELECT n.n_name, e.event_type,
           count(*) AS n,
           round(sum(e.value), 4) AS total_value
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1, 2
    """,
)
def q_streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join through the REAL readStream path:
    each micro-batch of events joins the static customer→nation
    dimension (broadcast per batch — the static side never enters the
    state store; only the downstream aggregation is stateful), then a
    running per-nation/event-type aggregate. The third streaming join
    class alongside stream-stream (interval) and stream-stateful
    (session); oracle = the batch join+aggregate, which the finite
    stream must hash-match."""
    from .streaming.events import read_event_stream, run_batch_like_stream

    stream = read_event_stream(spark, f"{sf_dir}/events*.parquet")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    static = F.broadcast(
        cust.join(nation, cust.c_nationkey == nation.n_nationkey).select(
            "c_custkey", "n_name"
        )
    )
    enriched = stream.join(static, stream.user_id == static.c_custkey)
    agg = enriched.groupBy("n_name", "event_type").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total_value")
    )
    return run_batch_like_stream(agg, "gate_static_enrich", state_partitions=4).select(
        "n_name", "event_type", "n", "total_value"
    )


@register(
    "corpus_mixture_report",
    f"""
    WITH per AS (
      SELECT source, lang,
             count(*) AS n_docs,
             CAST(sum(len(string_split({_NORM}, ' '))) AS BIGINT) AS n_tokens
      FROM documents
      GROUP BY source, lang
    ),
    tot AS (SELECT sum(n_tokens) AS all_tokens, count(*) AS n_groups FROM per)
    SELECT source, lang, n_docs, n_tokens,
           floor(CAST(n_tokens AS DOUBLE) / all_tokens * 10000 + 0.5) / 10000
             AS token_share,
           floor((CAST(all_tokens AS DOUBLE) / n_groups) / n_tokens * 10000 + 0.5)
             / 10000 AS uniform_factor
    FROM per, tot
    """,
)
def q_corpus_mixture_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-mixing table every pretraining pipeline materializes:
    per (source, lang) document and token counts, each group's token
    share, and the up/down-sampling factor that would equalize the
    mixture (uniform target; swap in any target vector the same way).
    One map-side-combinable groupBy + a broadcast of the 1-row totals —
    the 100 TB plan is the same two stages. `mixture_resample` is the
    operator that then APPLIES such factors map-side."""
    from .functions.text import token_count

    d = _t(spark, sf_dir, "documents")
    per = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col("text"))).alias("n_tokens"),
    )
    tot = per.agg(
        F.sum("n_tokens").alias("all_tokens"), F.count(F.lit(1)).alias("n_groups")
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        "lang",
        "n_docs",
        "n_tokens",
        (
            F.floor(F.col("n_tokens") / F.col("all_tokens") * 10000 + F.lit(0.5)) / 10000
        ).alias("token_share"),
        (
            F.floor(
                (F.col("all_tokens") / F.col("n_groups")) / F.col("n_tokens") * 10000
                + F.lit(0.5)
            )
            / 10000
        ).alias("uniform_factor"),
    )


@register(
    "heavy_hitters_contract",
    """
    WITH counts AS (
      SELECT l_suppkey, count(*) AS n FROM lineitem GROUP BY l_suppkey
    ),
    tot AS (SELECT sum(n) AS total FROM counts)
    SELECT l_suppkey, n
    FROM counts, tot
    WHERE n > total * 0.0008
    """,
)
def q_heavy_hitters_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters (hot suppliers) via Spark's freqItems sketch
    (single-pass, bounded memory — the Karp/Misra-Gries family), proven
    by its CONTRACT: the sketch may return false positives but must
    never miss an item above the support threshold, so intersecting the
    exact frequent set with the sketch output must reproduce the exact
    set — which is what the oracle computes. A dropped true heavy
    hitter breaks the hash match. Same proven-by-contract pattern as
    the HLL and quantile-sketch queries; the pretraining use is
    hot-domain / hot-shard detection without a full groupBy at 100 TB."""
    li = _t(spark, sf_dir, "lineitem")
    support = 0.0008
    # r12 note: the r11-verdict suggestion (share the two passes' scan
    # subtree via one persisted key-column cache + materialize-and-
    # release) was implemented and MEASURED SLOWER warm (interleaved A/B
    # at sf0.1: old 1.39/1.39 s vs cached 1.71/1.50 s) — the projected
    # single-column parquet scan is cheaper than the cache build + the
    # extra materialize job it forces. The two scans stay; they are the
    # contract's honest cost.
    sketch = set(li.stat.freqItems(["l_suppkey"], support).collect()[0][0])
    counts = li.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("n"))
    # grand total folded from the (supplier-count-sized) counts table as
    # a broadcast scalar — a bare li.count() was a third full corpus
    # scan (the misra_gries_contract pattern)
    tot = counts.agg(F.sum("n").alias("__total"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .filter(
            (F.col("n") > F.col("__total") * support)
            & F.col("l_suppkey").isin(list(sketch))
        )
        .drop("__total")
    )


@register(
    "misra_gries_contract",
    """
    WITH z AS (
      SELECT 4096 // ((l_orderkey * 2654435761) % 4096 + 1) AS zkey
      FROM lineitem
    ),
    counts AS (SELECT zkey, count(*) AS n FROM z GROUP BY zkey),
    tot AS (SELECT sum(n) AS total FROM counts)
    SELECT zkey, n
    FROM counts, tot
    WHERE n > total * 0.032
    """,
)
def q_misra_gries_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit Misra-Gries mergeable summary (capacity k=31) over a
    deterministic Zipf-like key (multiplicative hash of the order key,
    reciprocal-bucketed: ~127 distinct values, top bucket ~50% of rows —
    uniform TPC-H keys would never trip the prune path), proven by its
    CONTRACT: the summary never overcounts, undercounts by at most
    N/(k+1) = N/32 < N * 0.032, and therefore contains every item with
    true frequency above the 0.032 support. Intersecting the exact
    frequent set with the sketch output UNDER those bound checks must
    reproduce the exact set — a missed heavy hitter or an out-of-bound
    estimate breaks the hash match. Unlike `heavy_hitters_contract`
    (JVM freqItems), this one exercises the CUSTOM-mergeable-summary
    recipe: Arrow-batched per-partition summaries via mapInPandas (an
    intentional Python stage, like multimodal; at most k counters per
    task, k rows per partition shuffled), merged with one tiny
    groupBy."""
    from .operators.sketches import misra_gries

    li = _t(spark, sf_dir, "lineitem")
    support, k = 0.032, 31
    zkey = F.expr("4096 div ((l_orderkey * 2654435761) % 4096 + 1)").alias("zkey")
    z = li.select(zkey)
    sketch = misra_gries(z, "zkey", k=k)
    counts = z.groupBy("zkey").agg(F.count(F.lit(1)).alias("n"))
    # total folded in as a broadcast scalar (sum of the tiny counts
    # table) instead of a separate .count() action/scan
    tot = counts.agg(F.sum("n").alias("__total"))
    return (
        counts.join(sketch, "zkey")
        .crossJoin(F.broadcast(tot))
        .filter(
            (F.col("n") > F.col("__total") * support)
            & (F.col("est") <= F.col("n"))
            & (F.col("est") >= F.col("n") - F.col("__total") / (k + 1))
        )
        .select("zkey", "n")
    )


@register(
    "array_functions",
    """
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS ws
      FROM documents WHERE doc_id % 5 = 0
    )
    SELECT doc_id,
           CAST(len(ws) AS BIGINT) AS n_words,
           CAST(list_sum([length(x) for x in ws]) AS BIGINT) AS total_chars,
           CAST(len(list_filter(ws, x -> length(x) > 5)) AS BIGINT) AS n_long,
           len(list_filter(ws, x -> length(x) > 9)) > 0 AS has_long,
           len(list_filter(ws, x -> length(x) = 0)) = 0 AS all_nonempty,
           array_to_string(list_sort(list_distinct(ws))[1:3], '|') AS first3_sorted,
           CAST(list_sum([length(ws[i]) * length(ws[len(ws) - i + 1])
                          for i in generate_series(1, len(ws))]) AS BIGINT)
             AS palindrome_dot
    FROM w
    """,
)
def q_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array function battery (transform / filter / exists /
    forall / aggregate / zip_with / array_sort / array_distinct / slice /
    array_join) — the §2.11 array toolbox a token-level pipeline leans
    on. Everything is a native Column expression (no Python), and the
    array-valued intermediates are folded to scalars/strings so the
    cross-engine hash compare is exact."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    ws = F.split(F.col("text"), " ")
    lens = F.transform(ws, lambda w: F.length(w))
    return d.select(
        "doc_id",
        F.size(ws).cast("long").alias("n_words"),
        F.aggregate(lens, F.lit(0), lambda a, x: a + x).cast("long").alias("total_chars"),
        F.size(F.filter(ws, lambda w: F.length(w) > 5)).cast("long").alias("n_long"),
        F.exists(ws, lambda w: F.length(w) > 9).alias("has_long"),
        F.forall(ws, lambda w: F.length(w) > 0).alias("all_nonempty"),
        F.array_join(
            F.slice(F.array_sort(F.array_distinct(ws)), 1, 3), "|"
        ).alias("first3_sorted"),
        F.aggregate(
            F.zip_with(ws, F.reverse(ws), lambda a, b: F.length(a) * F.length(b)),
            F.lit(0),
            lambda a, x: a + x,
        ).cast("long").alias("palindrome_dot"),
    )


@register(
    "map_functions",
    """
    WITH w AS (
      SELECT doc_id,
             list_sort(list_distinct(string_split(text, ' ')))[1:5] AS dw
      FROM documents WHERE doc_id % 7 = 0
    )
    SELECT doc_id,
           CAST(len(dw) AS BIGINT) AS n_entries,
           array_to_string(dw, '|') AS keys_joined,
           CAST(list_sum([length(x) for x in dw]) AS BIGINT) AS vals_sum,
           CAST(length(dw[1]) AS BIGINT) AS first_val,
           CAST(len(list_filter(dw, x -> length(x) > 3)) AS BIGINT) AS n_long,
           CAST(2 * list_sum([length(x) for x in dw]) AS BIGINT) AS doubled_sum,
           CAST(len(dw) + 1 AS BIGINT) AS n_concat
    FROM w
    """,
)
def q_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed column battery (map_from_arrays / map_keys / map_values /
    element_at / map_filter / transform_values / map_concat /
    cardinality): the per-row key-value toolbox for feature dictionaries
    and token->count columns. Keys are the first 5 sorted-distinct words
    (so map construction is duplicate-free under the default EXCEPTION
    dedup policy), values their lengths; every map-valued intermediate is
    folded to a scalar/string so the oracle can state the expected VALUES
    from plain arrays — the oracle certifies semantics, Spark exercises
    the map machinery."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 7 == 0)
    dw = F.slice(F.array_sort(F.array_distinct(F.split(F.col("text"), " "))), 1, 5)
    d = d.select("doc_id", dw.alias("dw"))
    m = F.map_from_arrays(F.col("dw"), F.transform(F.col("dw"), lambda w: F.length(w)))
    vals_sum = F.aggregate(F.map_values(m), F.lit(0), lambda a, x: a + x)
    return d.select(
        "doc_id",
        F.cardinality(m).cast("long").alias("n_entries"),
        F.array_join(F.map_keys(m), "|").alias("keys_joined"),
        vals_sum.cast("long").alias("vals_sum"),
        F.element_at(m, F.element_at(F.col("dw"), 1)).cast("long").alias("first_val"),
        F.cardinality(F.map_filter(m, lambda k, v: v > 3)).cast("long").alias("n_long"),
        F.aggregate(
            F.map_values(F.transform_values(m, lambda k, v: v * 2)),
            F.lit(0),
            lambda a, x: a + x,
        ).cast("long").alias("doubled_sum"),
        F.cardinality(
            F.map_concat(m, F.create_map(F.lit("__sentinel__"), F.lit(0)))
        ).cast("long").alias("n_concat"),
    )


@register(
    "boilerplate_ngram_filter",
    f"""
    WITH tt AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS t FROM documents
    ),
    sh AS (
      SELECT doc_id, unnest({_SHINGLES}) AS gram FROM tt WHERE len(t) >= 2
    ),
    dfq AS (SELECT gram, count(*) AS doc_freq FROM sh GROUP BY gram),
    per AS (
      SELECT s.doc_id,
             count(*) AS n_shingles,
             sum(CASE WHEN dfq.doc_freq > 32 THEN 1 ELSE 0 END) AS n_common
      FROM sh s JOIN dfq ON s.gram = dfq.gram
      GROUP BY s.doc_id
    )
    SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
           CAST(n_common AS BIGINT) AS n_common,
           round(n_common * 1.0 / n_shingles, 4) AS boilerplate_frac
    FROM per
    WHERE n_common * 1.0 / n_shingles <= 0.35
    """,
)
def q_boilerplate_ngram_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate filter by corpus-frequent n-gram fraction (the C4 /
    RefinedWeb recipe: a document dominated by shingles that appear in
    many OTHER documents is navigation chrome / templates, not prose).
    Two shuffles total: distinct-bigram doc frequency (map-side
    combinable groupBy), then one join of the shingle table against the
    frequency table and a per-doc aggregate — no pairwise comparison
    anywhere, so the plan is linear in corpus size at 100 TB. Thresholds
    (df > 32, keep frac <= 0.35) are tuned to this corpus's ~916-bigram
    vocabulary so the filter does real work (drops ~23% of docs)."""
    from .functions.text import token_shingles

    d = _t(spark, sf_dir, "documents").filter(
        F.size(_text_tokens()) >= 2
    )
    sh = d.select("doc_id", F.explode(token_shingles(F.col("text"), 2)).alias("gram"))
    # token_shingles is per-doc DISTINCT, so each (doc, gram) pair occurs
    # once and count(*) here IS the document frequency — no Expand-costly
    # count_distinct needed (the oracle's list_distinct mirrors this)
    dfq = sh.groupBy("gram").agg(F.count(F.lit(1)).alias("doc_freq"))
    per = (
        sh.join(dfq, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("doc_freq") > 32, 1).otherwise(0)).alias("n_common"),
        )
    )
    frac = F.col("n_common") / F.col("n_shingles")
    return per.filter(frac <= 0.35).select(
        "doc_id",
        "n_shingles",
        "n_common",
        F.round(frac, 4).alias("boilerplate_frac"),
    )


def _jl_dim_sql(j: int, out_dim: int = 8, seed: int = 17) -> str:
    """DuckDB replay of one jl_project output dim: identical sign hash
    (generate_series is 1-based, matching the operator's (i+1) over its
    0-based transform index), identical in-order fold, identical snap."""
    return (
        f"floor(list_sum([v[i] * (((i * {(j + seed) * 2654435761}) % 2038074743 % 2) * 2 - 1) "
        f"for i in generate_series(1, len(v))]) / sqrt({out_dim}) * 10000 + 0.5) / 10000"
    )


@register(
    "jl_projection",
    f"""
    WITH v AS (
      SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v
      FROM embeddings WHERE vec_id % 4 = 0
    )
    SELECT vec_id,
           {", ".join(f"{_jl_dim_sql(j)} AS p{j}" for j in range(8))}
    FROM v
    """,
)
def q_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss projection 64 -> 8 dims with a hash-derived
    Rademacher sign matrix (Achlioptas 2003): the embedding-compression
    stage a 100 TB ANN pipeline runs before indexing. No materialized
    matrix, no shuffle, no Python — each output dim is one codegen fold
    over the input array, so the stage is a pure map over the corpus.
    The oracle replays the exact sign hash and fold in SQL."""
    from .functions.vector import jl_project

    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 4 == 0)
    dims = jl_project(F.col("embedding"), out_dim=8)
    return e.select(
        "vec_id", *[c.alias(f"p{j}") for j, c in enumerate(dims)]
    )


@register(
    "train_test_split",
    """
    WITH tagged AS (
      SELECT doc_id, lang,
             CASE
               WHEN (doc_id * 2654435761) % 100 < 80 THEN 'train'
               WHEN (doc_id * 2654435761) % 100 < 90 THEN 'val'
               ELSE 'test'
             END AS split
      FROM documents
    )
    SELECT split, lang,
           count(*) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS min_id,
           CAST(max(doc_id) AS BIGINT) AS max_id
    FROM tagged
    GROUP BY split, lang
    """,
)
def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split by a multiplicative
    hash of the stable document id — the reproducible-split primitive
    every training pipeline needs (no sampling state, no shuffle to
    decide membership: the split is a map-side expression, so the same
    doc lands in the same split on any cluster, any run, any engine).
    Disjointness and completeness are structural (CASE over one hash);
    the oracle checks the per-(split, lang) census."""
    d = _t(spark, sf_dir, "documents")
    h = (F.col("doc_id") * F.lit(2654435761)) % 100
    split = (
        F.when(h < 80, F.lit("train")).when(h < 90, F.lit("val")).otherwise(F.lit("test"))
    )
    return (
        d.select(split.alias("split"), "lang", "doc_id")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
    )


@register(
    "bitwise_functions",
    """
    SELECT l_orderkey,
           CAST(l_orderkey & 255 AS BIGINT) AS band,
           CAST(l_orderkey | 4096 AS BIGINT) AS bor,
           CAST(xor(l_orderkey, 1365) AS BIGINT) AS bxor,
           CAST(l_orderkey << 2 AS BIGINT) AS shl,
           CAST(l_orderkey >> 3 AS BIGINT) AS shr,
           CAST(~l_orderkey AS BIGINT) AS bnot,
           CAST(bit_count(l_orderkey) AS INTEGER) AS popcnt
    FROM lineitem WHERE l_orderkey % 101 = 0 AND l_linenumber = 1
    """,
)
def q_bitwise_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise expression battery (&, |, xor, shifts, ~, popcount) — the
    §2.11 bit toolbox behind bitmap joins, bloom filters, and hash
    bucketing. All codegen scalar expressions; popcount via bit_count."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_orderkey") % 101 == 0) & (F.col("l_linenumber") == 1)
    )
    k = F.col("l_orderkey")
    return li.select(
        "l_orderkey",
        k.bitwiseAND(F.lit(255)).alias("band"),
        k.bitwiseOR(F.lit(4096)).alias("bor"),
        k.bitwiseXOR(F.lit(1365)).alias("bxor"),
        F.shiftleft(k, 2).cast("long").alias("shl"),
        F.shiftright(k, 3).cast("long").alias("shr"),
        F.bitwise_not(k).alias("bnot"),
        F.bit_count(k).cast("int").alias("popcnt"),
    )


@register(
    "conditional_functions",
    """
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 200000 THEN 'big'
                WHEN o_totalprice > 100000 THEN 'mid'
                ELSE 'small' END AS bucket,
           coalesce(nullif(o_orderstatus, 'O'), 'open') AS status_or_open,
           CAST(least(o_totalprice, 150000.0) AS DOUBLE) AS capped,
           CAST(greatest(o_totalprice, 1000.0) AS DOUBLE) AS floored,
           CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS urgent_flag,
           if(o_custkey % 2 = 0, 'even', 'odd') AS parity
    FROM orders WHERE o_orderkey % 97 = 0
    """,
)
def q_conditional_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional expression battery (CASE, coalesce/nullif, least/
    greatest, if) — §2.11 control expressions, all constant-folded /
    codegen scalar ops."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 97 == 0)
    p = F.col("o_totalprice")
    return o.select(
        "o_orderkey",
        F.when(p > 200000, "big").when(p > 100000, "mid").otherwise("small").alias("bucket"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("open")).alias(
            "status_or_open"
        ),
        F.least(p, F.lit(150000.0)).alias("capped"),
        F.greatest(p, F.lit(1000.0)).alias("floored"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("urgent_flag"),
        F.when(F.col("o_custkey") % 2 == 0, "even").otherwise("odd").alias("parity"),
    )


@register(
    "recursive_cte_depth",
    """
    WITH RECURSIVE chain AS (
      SELECT c_custkey AS node, c_custkey AS cur, 0 AS depth
      FROM customer WHERE c_custkey <= 63
      UNION ALL
      SELECT node, cur // 2 AS cur, depth + 1 AS depth
      FROM chain WHERE cur > 1
    )
    SELECT node, CAST(max(depth) AS INTEGER) AS depth,
           CAST(count(*) AS BIGINT) AS chain_len
    FROM chain GROUP BY node
    """,
)
def q_recursive_cte_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (new in Spark 4): ancestor-chain depth over the
    implicit binary tree on customer ids (parent = id div 2) — the same
    fixed-point iteration the DuckDB oracles use for connected
    components, now run by SPARK's own WITH RECURSIVE instead of a
    driver loop. The iterative-join form (`dedup_cluster_assign`'s
    min-label propagation) remains the scale path for unbounded-depth
    graphs; the CTE is the declarative front door."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
        WITH RECURSIVE chain AS (
          SELECT c_custkey AS node, c_custkey AS cur, 0 AS depth
          FROM customer WHERE c_custkey <= 63
          UNION ALL
          SELECT node, cur DIV 2 AS cur, depth + 1 AS depth
          FROM chain WHERE cur > 1
        )
        SELECT node, CAST(max(depth) AS INT) AS depth,
               count(*) AS chain_len
        FROM chain GROUP BY node
        """
    )


@register(
    "lateral_topk_per_nation",
    """
    SELECT n.n_name, b.c_custkey, b.bal
    FROM nation n, LATERAL (
      SELECT c_custkey, round(c_acctbal, 4) AS bal
      FROM customer c
      WHERE c.c_nationkey = n.n_nationkey
      ORDER BY c_acctbal DESC, c_custkey
      LIMIT 2
    ) b
    """,
)
def q_lateral_topk_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (§2.6 table-valued correlation): the
    top-2 customers by balance PER nation, expressed as a lateral
    per-row subquery with ORDER BY/LIMIT — Catalyst rewrites it to the
    same window/top-k shape `grouped_topk` builds explicitly, so the
    declarative form carries no plan penalty."""
    for t in ("nation", "customer"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
        SELECT n.n_name, b.c_custkey, b.bal
        FROM nation n, LATERAL (
          SELECT c_custkey, round(c_acctbal, 4) AS bal
          FROM customer c
          WHERE c.c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_custkey
          LIMIT 2
        ) b
        """
    )


@register(
    "variant_extract",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS k_sum,
           CAST(max(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS k_max
    FROM events
    WHERE CAST(props->>'$.k' AS BIGINT) % 3 = 0
    GROUP BY event_type
    """,
)
def q_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured ingestion via the VARIANT type (new in Spark 4):
    `parse_json` builds the binary variant once, `try_variant_get`
    extracts typed paths WITHOUT re-parsing the JSON text per field —
    the scale answer to repeated get_json_object parses
    (`json_extract_props` is the classic-path sibling). Filter and
    aggregates run on the extracted typed column inside codegen."""
    ev = _events(spark, sf_dir)
    v = ev.withColumn("v", F.parse_json("props")).withColumn(
        "k", F.try_variant_get(F.col("v"), "$.k", "long")
    )
    return (
        v.filter(F.col("k") % 3 == 0)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("k_sum"),
            F.max("k").alias("k_max"),
        )
    )


@register(
    "sql_scalar_udf",
    """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(CASE WHEN o_totalprice > 150000
                          THEN o_totalprice * 0.9
                          ELSE o_totalprice END), 4) AS discounted_total
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_sql_scalar_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scalar UDF (CREATE FUNCTION ... RETURN expr, new in Spark 4):
    the function body is inlined by Catalyst into the calling plan — a
    named, reusable expression with ZERO runtime dispatch cost, unlike a
    Python UDF. The oracle states the inlined arithmetic directly."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    spark.sql(
        """CREATE OR REPLACE TEMPORARY FUNCTION bulk_discount(p DOUBLE)
           RETURNS DOUBLE
           RETURN CASE WHEN p > 150000 THEN p * 0.9 ELSE p END"""
    )
    return spark.sql(
        """
        SELECT o_orderpriority,
               count(*) AS n,
               round(sum(bulk_discount(o_totalprice)), 4) AS discounted_total
        FROM orders
        GROUP BY o_orderpriority
        """
    )


@register(
    "unpivot_metrics",
    """
    SELECT l_returnflag AS flag, metric,
           round(avg(val), 4) AS mean_val,
           round(max(val), 4) AS max_val
    FROM (
      SELECT l_returnflag, 'quantity' AS metric, l_quantity AS val FROM lineitem
      UNION ALL
      SELECT l_returnflag, 'price', l_extendedprice FROM lineitem
      UNION ALL
      SELECT l_returnflag, 'discount', l_discount FROM lineitem
    )
    GROUP BY l_returnflag, metric
    """,
)
def q_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT / melt (wide -> long): three metric columns become
    (metric, value) rows via `DataFrame.unpivot` — one Expand node, NOT
    three scans (the oracle's UNION ALL states the semantics; Spark's
    physical plan reads the table once). The long shape then aggregates
    per (group, metric) — the standard metrics-table normalization."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").alias("quantity"),
        F.col("l_extendedprice").alias("price"),
        F.col("l_discount").alias("discount"),
    )
    longf = li.unpivot("flag", ["quantity", "price", "discount"], "metric", "val")
    return longf.groupBy("flag", "metric").agg(
        F.round(F.avg("val"), 4).alias("mean_val"),
        F.round(F.max("val"), 4).alias("max_val"),
    )


@register(
    "try_functions",
    """
    SELECT o_orderkey,
           round(o_totalprice / nullif(o_custkey % 5, 0), 4) AS safe_div,
           try_cast(o_orderpriority AS BIGINT) AS bad_cast,
           CAST(try_cast(substr(o_orderpriority, 1, 1) AS INTEGER) AS INT)
             AS prio_digit
    FROM orders WHERE o_orderkey % 93 = 0
    """,
)
def q_try_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe expression battery (try_divide / try_cast): malformed
    input yields NULL instead of failing the job — at 100 TB a single
    dirty row must never kill a stage. The oracle states the same
    semantics with nullif-guarded division and DuckDB's try_cast."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 93 == 0)
    return o.select(
        "o_orderkey",
        F.round(F.try_divide(F.col("o_totalprice"), F.col("o_custkey") % 5), 4).alias(
            "safe_div"
        ),
        F.col("o_orderpriority").try_cast("long").alias("bad_cast"),
        F.substring(F.col("o_orderpriority"), 1, 1).try_cast("int").alias("prio_digit"),
    )


@register(
    "collation_group",
    """
    SELECT lower(seg) AS segment, CAST(count(*) AS BIGINT) AS n
    FROM (
      SELECT CASE WHEN c_custkey % 2 = 0 THEN lower(c_mktsegment)
                  ELSE c_mktsegment END AS seg
      FROM customer
    )
    GROUP BY lower(seg)
    """,
)
def q_collation_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String collations (new in Spark 4): a UTF8_LCASE-collated column
    compares/groups case-insensitively INSIDE the engine — no lower()
    rewrite at every call site, and the collation survives into joins
    and aggregations. Mixed-case segments (synthesized by id parity)
    collapse to one group each; the output is canonicalized with
    lower() only for the cross-engine hash (DuckDB states the semantics
    with an explicit lower() group)."""
    c = _t(spark, sf_dir, "customer")
    mixed = F.when(
        F.col("c_custkey") % 2 == 0, F.lower(F.col("c_mktsegment"))
    ).otherwise(F.col("c_mktsegment"))
    collated = mixed.cast("string collate UTF8_LCASE").alias("seg")
    return (
        c.select(collated)
        .groupBy("seg")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lower(F.col("seg")).cast("string").alias("segment"), "n")
    )


_DUCK_QZ = """
      SELECT vec_id,
             list_transform(embedding, x ->
               CAST(floor(CAST(x AS DOUBLE) / s + 0.5) AS BIGINT)) AS qvec
      FROM (
        SELECT vec_id, embedding,
               greatest(list_max(list_transform(embedding,
                 x -> abs(CAST(x AS DOUBLE)))), 1e-30) / 127.0 AS s
        FROM embeddings
      )
"""


@register(
    "ann_quantized",
    f"""
    WITH qz AS ({_DUCK_QZ}),
    q AS (SELECT vec_id AS q_id, qvec AS q_vec FROM qz WHERE vec_id < 5),
    pairs AS (
      SELECT q.q_id, q.q_vec, e.vec_id AS n_id, e.qvec AS n_vec
      FROM qz e CROSS JOIN q WHERE e.vec_id != q.q_id
    ),
    scored AS (SELECT q_id, n_id, {_COSINE} AS sim_q FROM pairs),
    approx AS (
      SELECT q_id, n_id, sim_q,
             row_number() OVER (PARTITION BY q_id ORDER BY sim_q DESC, n_id) AS rank
      FROM scored
    ),
    eq AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 5),
    epairs AS (
      SELECT eq.q_id, eq.q_vec, e.vec_id AS n_id, e.embedding AS n_vec
      FROM embeddings e CROSS JOIN eq WHERE e.vec_id != eq.q_id
    ),
    escored AS (SELECT q_id, n_id, {_COSINE} AS sim_q FROM epairs),
    exact AS (
      SELECT q_id, n_id FROM (
        SELECT q_id, n_id,
               row_number() OVER (PARTITION BY q_id ORDER BY sim_q DESC, n_id) AS r
        FROM escored
      ) WHERE r <= 5
    )
    SELECT a.q_id, a.n_id, a.sim_q, a.rank, (e.n_id IS NOT NULL) AS in_exact
    FROM approx a LEFT JOIN exact e ON a.q_id = e.q_id AND a.n_id = e.n_id
    WHERE a.rank <= 5
    """,
)
def q_ann_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized ANN (int8) with per-row recall annotation: the
    memory-tier practice of real vector stores — quantize the corpus
    4x smaller, search on integer arrays (per-vector scale cancels in
    cosine), and certify recall against the exact float ranking on a
    query sample. The quantization uses an explicit half-up
    floor(x/s + 0.5) so the oracle replays the exact integers."""
    from .operators.similarity import quantized_topk

    e = _t(spark, sf_dir, "embeddings")
    return quantized_topk(e, e.filter(F.col("vec_id") < 5), k=5)


@register(
    "pagerank_suppliers",
    """
    WITH nodes AS (SELECT s_suppkey AS v FROM supplier),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    edges AS (
      SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_suppkey != b.l_suppkey
    ),
    deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS d FROM edges GROUP BY src),
    pr0 AS (SELECT v, 1.0 / (SELECT n FROM nn) AS pr FROM nodes),
    c1 AS (
      SELECT e.dst AS v, sum(p.pr / deg.d) AS m
      FROM edges e JOIN pr0 p ON e.src = p.v JOIN deg ON e.src = deg.src
      GROUP BY e.dst
    ),
    pr1 AS (
      SELECT n.v, 0.15 / (SELECT n FROM nn) + 0.85 * coalesce(c1.m, 0) AS pr
      FROM nodes n LEFT JOIN c1 ON n.v = c1.v
    ),
    c2 AS (
      SELECT e.dst AS v, sum(p.pr / deg.d) AS m
      FROM edges e JOIN pr1 p ON e.src = p.v JOIN deg ON e.src = deg.src
      GROUP BY e.dst
    ),
    pr2 AS (
      SELECT n.v, 0.15 / (SELECT n FROM nn) + 0.85 * coalesce(c2.m, 0) AS pr
      FROM nodes n LEFT JOIN c2 ON n.v = c2.v
    )
    SELECT v AS s_suppkey, round(pr, 6) AS pagerank FROM pr2
    """,
)
def q_pagerank_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two PageRank iterations over the supplier co-occurrence graph
    (suppliers sharing an order), certifying the iterative driver loop
    the same way kmeans_ivf_train does: the oracle replays both
    iterations in SQL. Formula: pr_{t+1}(v) = (1-d)/N + d * sum over
    in-edges of pr_t(u)/outdeg(u), d = 0.85 (dangling mass not
    redistributed; stated so the replay is exact)."""
    from .operators.graph import pagerank_adjacency

    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    # co-occurrence adjacency via per-order supplier sets, folded to one
    # distinct-neighbor array per supplier: one shuffle of lineitem plus
    # one node-sized groupBy — no 2.4M-row pair table at all (measured
    # 1.6-2.0 s vs 2.2-2.7 s for the distinct-pair form, identical
    # output; supplier degree is bounded by |supplier|, the adjacency
    # regime's requirement — see operators/graph.py). The oracle states
    # the same edge set as a plain self-join.
    sets_ = li.groupBy("l_orderkey").agg(F.collect_set("l_suppkey").alias("ss"))
    adj = (
        sets_.select(F.explode("ss").alias("src"), "ss")
        .groupBy("src")
        .agg(F.array_distinct(F.flatten(F.collect_list("ss"))).alias("nbrs"))
        .select("src", F.array_remove("nbrs", F.col("src")).alias("nbrs"))
    )
    nodes = s.select(F.col("s_suppkey").alias("v"))
    # N from the parquet footer rowcount (exact for this UNFILTERED node
    # scan — FileMetaData.num_rows is authoritative): drops the COUNT(*)
    # job and leaves the builder lazy, so the 2-iteration unrolled plan
    # is plan-cache eligible instead of being rebuilt per invocation
    from .sources.stats import parquet_row_count

    pr = pagerank_adjacency(
        nodes,
        adj,
        iterations=2,
        damping=0.85,
        n_nodes=parquet_row_count(f"{sf_dir}/supplier.parquet"),
    )
    return pr.select(
        F.col("v").alias("s_suppkey"), F.round("pr", 6).alias("pagerank")
    )


@register(
    "chunk_documents_overlap",
    f"""
    WITH t AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS toks FROM documents
    ),
    s AS (
      SELECT doc_id, toks,
             unnest(generate_series(
               0,
               CAST(greatest(ceil((len(toks) - 32) / 24.0), 0) AS BIGINT) * 24,
               24)) AS start
      FROM t
    )
    SELECT doc_id,
           CAST(start / 24 AS BIGINT) AS chunk_idx,
           CAST(start AS BIGINT) AS start_tok,
           CAST(len(list_slice(toks, start + 1, start + 32)) AS BIGINT) AS n_tok,
           substr(md5(array_to_string(list_slice(toks, start + 1, start + 32), ' ')), 1, 16) AS fp
    FROM s
    """,
)
def q_chunk_documents_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking with overlap (window 32 tokens,
    stride 24): the retrieval/embedding prep step that turns a corpus
    into fixed-size overlapping chunks. Pure explode over a generated
    start-offset sequence — linear, no shuffle, chunk identity is a
    content fingerprint so downstream dedup/embedding stages can key on
    it. Start offsets stop at the first window that reaches the document
    end — a further stride would emit a strict subset of the previous
    chunk (duplicate content under a fresh fingerprint), so every
    non-final chunk is full-width and the final one ends at the last
    token."""
    d = _t(spark, sf_dir, "documents")
    norm = _norm_text()
    stride, win = 24, 32
    last_start = (
        F.greatest(
            F.ceil((F.size(F.col("toks")) - F.lit(win)) / F.lit(stride)), F.lit(0)
        ).cast("int")
        * stride
    )
    starts = F.sequence(F.lit(0), last_start, F.lit(stride))
    chunk = F.slice(F.col("toks"), F.col("start") + 1, win)
    return (
        d.select("doc_id", F.split(norm, " ").alias("toks"))
        .select("doc_id", "toks", F.explode(starts).alias("start"))
        .select(
            "doc_id",
            (F.col("start") / stride).cast("long").alias("chunk_idx"),
            F.col("start").cast("long").alias("start_tok"),
            F.size(chunk).cast("long").alias("n_tok"),
            F.substring(F.md5(F.concat_ws(" ", chunk)), 1, 16).alias("fp"),
        )
    )


_LM_HELDOUT_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS t2,
             (doc_id * 2654435761) % 100 < 80 AS is_train
      FROM documents
    ),
    d2 AS (SELECT * FROM t WHERE len(t2) >= 2),
    flat AS (
      SELECT doc_id, is_train,
             unnest([t2[i] || ' ' || t2[i+1]
                     for i in generate_series(1, len(t2) - 1)]) AS bg
      FROM d2
    ),
    bc AS (SELECT bg, count(*) AS bn FROM flat WHERE is_train GROUP BY bg),
    uc AS (
      SELECT split_part(bg, ' ', 1) AS w, count(*) AS un
      FROM flat WHERE is_train GROUP BY 1
    ),
    v AS (SELECT count(DISTINCT tok) AS vsz
          FROM (SELECT unnest(t2) AS tok FROM d2 WHERE is_train))
    SELECT f.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(-ln((coalesce(bc.bn, 0) + 1)::DOUBLE
                         / (coalesce(uc.un, 0) + v.vsz))), 4) AS xent
    FROM flat f
    LEFT JOIN bc ON bc.bg = f.bg
    LEFT JOIN uc ON uc.w = split_part(f.bg, ' ', 1)
    CROSS JOIN v
    WHERE NOT f.is_train
    GROUP BY f.doc_id
    """


@register("lm_heldout_perplexity", _LM_HELDOUT_ORACLE)
def q_lm_heldout_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out LM evaluation: train the add-one-smoothed bigram model on
    the deterministic 80% hash split (`train_test_split`'s formula) and
    score the held-out 20% — the honest form of `lm_quality_score`
    (scoring docs under a model trained on themselves underestimates
    cross-entropy). Unseen eval bigrams/prefixes fall back to the
    smoothing floor via left joins; P(w2|w1) = (B+1)/(C(w1)+V) with
    counts and V from the train split only. Same scale shape: one
    bigram explode, token-keyed hash shuffles, broadcast prefix counts,
    nothing collects but the vocabulary scalar."""

    from .caching import materialize_and_release

    d = _t(spark, sf_dir, "documents")
    norm = _norm_text()
    docs = d.select(
        "doc_id",
        F.split(norm, " ").alias("t"),
        ((F.col("doc_id") * F.lit(2654435761)) % 100 < 80).alias("is_train"),
    ).filter(F.size("t") >= 2)
    pairs = (
        docs.select(
            "doc_id",
            "is_train",
            "t",
            F.explode(F.sequence(F.lit(1), F.size("t") - 1)).alias("i"),
        )
        .select(
            "doc_id",
            "is_train",
            F.element_at("t", F.col("i")).alias("w1"),
            F.element_at("t", F.col("i") + 1).alias("w2"),
        )
        .transform(maybe_persist)
    )
    train = pairs.filter(F.col("is_train"))
    bc = train.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("bn"))
    uc = train.groupBy("w1").agg(F.count(F.lit(1)).alias("un"))
    vsz = (
        train.select(F.col("w1").alias("w"))
        .union(train.select(F.col("w2").alias("w")))
        .distinct()
        .count()
    )  # train vocabulary scalar -> plan literal
    scored = (
        pairs.filter(~F.col("is_train"))
        .join(bc, ["w1", "w2"], "left")
        .join(F.broadcast(uc), "w1", "left")
        .withColumn(
            "nll",
            -F.log(
                (F.coalesce(F.col("bn"), F.lit(0)) + 1)
                / (F.coalesce(F.col("un"), F.lit(0)) + F.lit(vsz))
            ),
        )
    )
    res = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("nll"), 4).alias("xent"),
    )
    return materialize_and_release(res, pairs)


@register(
    "orc_roundtrip",
    """
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(l_extendedprice), 2) AS total_price,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink round-trip (the columnar format besides parquet a
    warehouse migration actually encounters): a lineitem projection is
    written as ORC — column pruning at write time, so the ORC files
    carry only the three queried columns — read back with pushdown
    intact (ORC readers support predicate pushdown and column pruning
    like parquet), and aggregated. The oracle runs on the parquet
    original, so a hash match proves the round-trip is lossless
    including DECIMAL price semantics."""
    import os
    import tempfile

    scratch = os.path.join(
        tempfile.gettempdir(), f"catlas_orc_{os.getpid()}"
    )
    li = _t(spark, sf_dir, "lineitem")
    orc_dir = f"{scratch}/lineitem_orc"
    li.select("l_returnflag", "l_extendedprice", "l_suppkey").write.mode(
        "overwrite"
    ).orc(orc_dir)
    rt = spark.read.orc(orc_dir)
    return rt.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
        F.count_distinct(F.col("l_suppkey")).alias("n_suppliers"),
    )


_PMI_ORACLE = f"""
    WITH t AS (SELECT doc_id, string_split({_NORM}, ' ') AS t2 FROM documents),
    d2 AS (SELECT doc_id, t2 FROM t WHERE len(t2) >= 2),
    flat AS (
      SELECT unnest([t2[i] || ' ' || t2[i+1]
                     for i in generate_series(1, len(t2) - 1)]) AS bg
      FROM d2
    ),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM flat),
    bc AS (SELECT bg, count(*) AS bn FROM flat GROUP BY bg),
    w1c AS (SELECT split_part(bg, ' ', 1) AS w, count(*) AS c1 FROM flat GROUP BY 1),
    w2c AS (SELECT split_part(bg, ' ', 2) AS w, count(*) AS c2 FROM flat GROUP BY 1),
    scored AS (
      SELECT bc.bg, bc.bn,
             round(ln((bc.bn * n.total) / (w1c.c1 * w2c.c2)), 4) AS pmi
      FROM bc
      JOIN w1c ON w1c.w = split_part(bc.bg, ' ', 1)
      JOIN w2c ON w2c.w = split_part(bc.bg, ' ', 2)
      CROSS JOIN n
      WHERE bc.bn >= 5
    )
    SELECT bg AS bigram, CAST(bn AS BIGINT) AS n_occurrences, pmi
    FROM scored
    ORDER BY pmi DESC, bigram
    LIMIT 50
    """


@register("pmi_collocations", _PMI_ORACLE)
def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 collocations by pointwise mutual information —
    PMI(w1,w2) = ln(P(w1 w2) / (P(w1·) P(·w2))) over corpus bigram
    positions, min count 5 (the classic collocation-extraction statistic;
    Church & Hanks 1990). P(w1·)/P(·w2) use the word's count in the
    corresponding bigram SLOT, so the three count tables share one
    bigram explode. All token-keyed hash shuffles; the bigram total
    folds in as a broadcast scalar; global top-50 via
    TakeOrderedAndProject, no full sort."""

    from .caching import materialize_and_release

    d = _t(spark, sf_dir, "documents")
    norm = _norm_text()
    docs = d.select(F.split(norm, " ").alias("t")).filter(F.size("t") >= 2)
    pairs = (
        docs.select("t", F.explode(F.sequence(F.lit(1), F.size("t") - 1)).alias("i"))
        .select(
            F.element_at("t", F.col("i")).alias("w1"),
            F.element_at("t", F.col("i") + 1).alias("w2"),
        )
        .transform(maybe_persist)
    )
    total = pairs.count()  # scalar -> plan literal (also populates the cache)
    bc = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("bn"))
    c1 = pairs.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    c2 = pairs.groupBy("w2").agg(F.count(F.lit(1)).alias("c2"))
    res = (
        bc.filter(F.col("bn") >= 5)
        .join(F.broadcast(c1), "w1")
        .join(F.broadcast(c2), "w2")
        .select(
            F.concat_ws(" ", "w1", "w2").alias("bigram"),
            F.col("bn").cast("long").alias("n_occurrences"),
            F.round(
                F.log((F.col("bn") * F.lit(float(total))) / (F.col("c1") * F.col("c2"))),
                4,
            ).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "bigram")
        .limit(50)
    )
    return materialize_and_release(res, pairs)


def _bpe_iter_sql(i: int) -> str:
    """One unrolled BPE iteration over state t{i-1}: pair counts →
    deterministic arg-max pair b{i} → greedy non-overlap application
    (run-parity selection, identical to operators/tokenize._apply_merge)
    → next state t{i}."""
    p = i - 1
    return f"""
    m{i} AS (SELECT word, cnt, pos, sym,
                    lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
             FROM t{p}),
    q{i} AS (SELECT sym AS a, nxt AS b, sum(cnt) AS pc
             FROM m{i} WHERE nxt IS NOT NULL GROUP BY 1, 2),
    b{i} AS (SELECT a, b, pc FROM q{i} ORDER BY pc DESC, a, b LIMIT 1),
    f{i} AS (SELECT m.word, m.pos
             FROM m{i} m JOIN b{i} ON m.sym = b{i}.a AND m.nxt = b{i}.b),
    r{i} AS (SELECT word, pos,
                    CASE WHEN pos - lag(pos) OVER (PARTITION BY word ORDER BY pos) = 1
                         THEN 0 ELSE 1 END AS brk
             FROM f{i}),
    g{i} AS (SELECT word, pos,
                    sum(brk) OVER (PARTITION BY word ORDER BY pos
                                   ROWS UNBOUNDED PRECEDING) AS runid
             FROM r{i}),
    s{i} AS (SELECT word, pos FROM (
               SELECT word, pos,
                      row_number() OVER (PARTITION BY word, runid ORDER BY pos) AS rn
               FROM g{i}) WHERE rn % 2 = 1),
    t{i} AS (SELECT m.word, m.cnt,
                    row_number() OVER (PARTITION BY m.word ORDER BY m.pos) AS pos,
                    CASE WHEN ks.pos IS NOT NULL THEN m.sym || m.nxt ELSE m.sym END AS sym
             FROM m{i} m
             LEFT JOIN s{i} ks ON m.word = ks.word AND m.pos = ks.pos
             LEFT JOIN s{i} dr ON m.word = dr.word AND m.pos = dr.pos + 1
             WHERE dr.pos IS NULL)"""


_BPE_ORACLE = f"""
    WITH wrds AS (SELECT unnest(string_split({_NORM}, ' ')) AS word FROM documents),
    wc AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt
           FROM wrds WHERE word <> '' GROUP BY word),
    t0 AS (SELECT word, cnt, pos, sym FROM (
             SELECT word, cnt,
                    unnest([{{'pos': i, 'sym': substr(word, CAST(i AS INTEGER), 1)}}
                            for i in generate_series(1, length(word))],
                           recursive := true)
             FROM wc)),
    {",".join(_bpe_iter_sql(i) for i in (1, 2, 3))}
    SELECT * FROM (
      SELECT 1 AS step, a AS left_sym, b AS right_sym, a || b AS merged,
             CAST(pc AS BIGINT) AS pair_count FROM b1
      UNION ALL SELECT 2, a, b, a || b, CAST(pc AS BIGINT) FROM b2
      UNION ALL SELECT 3, a, b, a || b, CAST(pc AS BIGINT) FROM b3
    ) ORDER BY step
    """


@register("bpe_merge_train", _BPE_ORACLE)
def q_bpe_merge_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, 3 merges (Sennrich et al. 2016): the
    corpus reduces to a word-frequency histogram (the ONE corpus-sized
    shuffle — at 100 TB this is the only step that touches the data),
    then every merge iteration runs over the vocabulary-sized
    segmentation table: adjacent-pair counts weighted by word frequency,
    deterministic arg-max (ties → lexicographic), greedy non-overlapping
    application via run-parity windows. The oracle replays all three
    iterations in SQL — like `kmeans_ivf_train`/`pagerank_suppliers`,
    the hash match certifies the whole iterative algorithm: step-k pair
    counts are only right if merges 1..k-1 were applied correctly over
    every word."""
    from .operators.tokenize import bpe_train

    d = _t(spark, sf_dir, "documents")
    norm = _norm_text()
    words = (
        d.select(F.explode(F.split(norm, " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return bpe_train(words, n_merges=3)


_BPE_ENCODE_ORACLE = f"""
    WITH wd AS (SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS word
                FROM documents),
    wnz AS (SELECT doc_id, word FROM wd WHERE word <> ''),
    wc AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM wnz GROUP BY word),
    t0 AS (SELECT word, cnt, pos, sym FROM (
             SELECT word, cnt,
                    unnest([{{'pos': i, 'sym': substr(word, CAST(i AS INTEGER), 1)}}
                            for i in generate_series(1, length(word))],
                           recursive := true)
             FROM wc)),
    {",".join(_bpe_iter_sql(i) for i in (1, 2, 3))},
    pieces AS (SELECT word, CAST(count(*) AS BIGINT) AS n_pieces
               FROM t3 GROUP BY word)
    SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(p.n_pieces) AS BIGINT) AS n_bpe_tokens
    FROM wnz w JOIN pieces p USING (word)
    GROUP BY w.doc_id
    """


@register("bpe_encode_corpus", _BPE_ENCODE_ORACLE)
def q_bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODING of the corpus with the 3 merges learned on it — the
    apply half of `bpe_merge_train` (train alone is useless to a
    training-data pipeline; the per-doc token count under the trained
    tokenizer is what sequence packing and mixture budgeting consume).

    Scale shape: the merge loop runs over the vocabulary-sized
    segmentation only (never the corpus); encoding is then ONE
    broadcast map-side join word → n_pieces against the exploded corpus
    and a per-doc sum — at 100 TB that is two corpus passes (histogram
    groupBy + encode join), with no iterative pass over documents. The
    oracle replays training AND encoding (t3 segmentation joined back
    to every doc's words), so the hash match certifies both halves.
    Docs that normalize to zero words drop on both sides (inner join on
    the word key), matching the chunk-family zero-token contract."""
    from .operators.tokenize import bpe_segment_words

    d = _t(spark, sf_dir, "documents")
    norm = _norm_text()
    wd = d.select(
        "doc_id", F.explode(F.split(norm, " ")).alias("word")
    ).filter(F.col("word") != "")
    wc = wd.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    seg = bpe_segment_words(wc, n_merges=3)
    pieces = seg.groupBy("word").agg(F.count(F.lit(1)).alias("n_pieces"))
    return (
        wd.join(F.broadcast(pieces), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_pieces").alias("n_bpe_tokens"),
        )
    )


_DUPSPAN_ORACLE = f"""
    WITH d AS (SELECT doc_id, string_split({_NORM}, ' ') AS toks FROM documents),
    n AS (SELECT doc_id, toks, len(toks) AS n_tokens FROM d),
    pos AS (SELECT doc_id, n_tokens, s, gram FROM (
              SELECT doc_id, n_tokens,
                     unnest([{{'s': i - 1,
                              'gram': array_to_string(
                                toks[CAST(i AS INTEGER):CAST(i + 4 AS INTEGER)], ' ')}}
                             for i in generate_series(1, len(toks) - 4)],
                            recursive := true)
              FROM n)),
    dfreq AS (SELECT gram FROM (
                SELECT gram, count(DISTINCT doc_id) AS nd FROM pos GROUP BY gram)
              WHERE nd >= 2),
    spans AS (SELECT p.doc_id, p.s, p.s + 4 AS e
              FROM pos p JOIN dfreq USING (gram)),
    isl AS (SELECT *, max(e) OVER (PARTITION BY doc_id ORDER BY s
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                      AS pmax
            FROM spans),
    brk AS (SELECT *, CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END AS b
            FROM isl),
    grp AS (SELECT *, sum(b) OVER (PARTITION BY doc_id ORDER BY s
                                   ROWS UNBOUNDED PRECEDING) AS g
            FROM brk),
    per_isl AS (SELECT doc_id, g, max(e) - min(s) + 1 AS ce
                FROM grp GROUP BY doc_id, g),
    cov AS (SELECT doc_id, sum(ce) AS covered FROM per_isl GROUP BY doc_id)
    SELECT n.doc_id, CAST(n.n_tokens AS BIGINT) AS n_tokens,
           CAST(coalesce(cov.covered, 0) AS BIGINT) AS covered_tokens,
           round(coalesce(cov.covered, 0) / n.n_tokens, 4) AS dup_frac
    FROM n LEFT JOIN cov USING (doc_id)
    """


@register("dup_span_coverage", _DUPSPAN_ORACLE)
def q_dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-level duplicate-span coverage (the substring-dedup
    statistic of Lee et al. 2022, at 5-token granularity): a position is
    covered iff the 5-gram starting there also appears in ANOTHER
    document; overlapping covered windows merge into maximal spans
    (gaps-and-islands over a per-doc running max), and each doc reports
    the fraction of its tokens inside such spans. Distinct from
    `boilerplate_ngram_filter` (per-shingle corpus frequency) — this
    measures contiguous COVERAGE, the signal used to cut repeated
    passages rather than whole docs. Plan: ONE positional explode
    (lookahead regex keeps it codegen), a single gram-keyed window for
    the appears-in-another-doc test (min(doc)≠max(doc) over the gram
    partition ⟺ ≥2 distinct docs — replacing the r9 distinct + groupBy
    + join-back, which paid three gram-keyed exchanges and a second
    regex pass; r10 same-session A/B 1.76 → 1.06 s, identical rows),
    then per-doc windows — every shuffle is token- or doc-keyed,
    nothing pairwise, linear at 100 TB. Hot grams concentrate one
    posting list per partition with no pairwise blowup."""
    d = _t(spark, sf_dir, "documents")
    norm = _norm_text()
    pat = r"(?=(\S+" + r" \S+" * 4 + r"))\S+"
    pos = d.select(
        "doc_id",
        F.posexplode(F.regexp_extract_all(norm, F.lit(pat), 1)).alias("s", "gram"),
    )
    wg = Window.partitionBy("gram")
    spans = (
        pos.withColumn("mn", F.min("doc_id").over(wg))
        .withColumn("mx", F.max("doc_id").over(wg))
        .filter(F.col("mn") != F.col("mx"))
        .select("doc_id", "s", (F.col("s") + 4).alias("e"))
    )
    wprev = Window.partitionBy("doc_id").orderBy("s")
    isl = (
        spans.withColumn(
            "pmax", F.max("e").over(wprev.rowsBetween(Window.unboundedPreceding, -1))
        )
        .withColumn(
            "brk",
            F.when(F.col("pmax").isNull() | (F.col("s") > F.col("pmax")), 1).otherwise(0),
        )
        .withColumn(
            "g", F.sum("brk").over(wprev.rowsBetween(Window.unboundedPreceding, 0))
        )
    )
    cov = (
        isl.groupBy("doc_id", "g")
        .agg((F.max("e") - F.min("s") + 1).alias("ce"))
        .groupBy("doc_id")
        .agg(F.sum("ce").alias("covered"))
    )
    alldocs = d.select("doc_id", F.size(F.split(norm, " ")).cast("long").alias("n_tokens"))
    return alldocs.join(cov, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce(F.col("covered"), F.lit(0)).cast("long").alias("covered_tokens"),
        F.round(
            F.coalesce(F.col("covered"), F.lit(0)) / F.col("n_tokens"), 4
        ).alias("dup_frac"),
    )


_FUZZY_ORACLE = """
    WITH k AS (SELECT DISTINCT c_name AS name FROM customer
               WHERE c_custkey % 10 = 0)
    SELECT a.name AS name_a, b.name AS name_b,
           CAST(levenshtein(a.name, b.name) AS INTEGER) AS dist
    FROM k a JOIN k b ON a.name < b.name
    WHERE levenshtein(a.name, b.name) <= 1
    """


@register("fuzzy_name_join", _FUZZY_ORACLE)
def q_fuzzy_name_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-tolerant self-join (edit distance ≤ 1) via SymSpell
    deletion-neighborhood blocking: each key emits itself plus its
    |key| delete-one-char variants (explode(sequence) + dynamic-arg
    substring — all codegen, no HOF lambda), candidates are pairs
    sharing a variant (covers substitution = same-position deletes,
    and insertion/deletion = one key IS the other's variant), then an
    exact levenshtein verify. O(n·L) blocking work vs the oracle's
    naive O(n²) cross join — the variant hash join is the 100 TB plan:
    group sizes are alphabet-bounded, nothing quadratic. The dist-2
    false candidates the blocking admits (e.g. transpositions sharing
    two different-position deletes) are killed by the verify, which
    the crafted-edge-case test exercises.

    The registry form subsamples keys 10:1 so the deliberately-naive
    oracle stays cheap in the side-by-side DuckDB suite (a quadratic
    oracle at full sf0.1 runs ~90 s and would skew the aggregate
    engine comparison in Spark's favor); the full-keyspace comparison
    is stress evidence: Spark blocked 7 s vs naive SQL 91 s at 15k
    keys / 262k true pairs (see NOTES_BUILDER)."""
    c = _t(spark, sf_dir, "customer")
    keys = (
        c.filter(F.col("c_custkey") % 10 == 0)
        .select(F.col("c_name").alias("name"))
        .distinct()
    )
    var = (
        keys.select(
            "name", F.explode(F.sequence(F.lit(0), F.length("name"))).alias("i")
        )
        .select(
            "name",
            F.when(F.col("i") == 0, F.col("name"))
            .otherwise(
                F.expr(
                    "concat(substring(name, 1, i - 1), substring(name, i + 1, length(name)))"
                )
            )
            .alias("v"),
        )
        # deduplicate (name, variant): deleting any of a run of equal
        # chars (e.g. the zero-padding) yields the SAME variant string,
        # and duplicate rows square the join fan-out — measured 5.6 ->
        # 4.4 s at the 15k-key full keyspace, identical output
        .distinct()
    )
    cand = (
        var.alias("a")
        .join(var.alias("b"), F.col("a.v") == F.col("b.v"))
        .select(F.col("a.name").alias("name_a"), F.col("b.name").alias("name_b"))
        .filter(F.col("name_a") < F.col("name_b"))
        .distinct()
    )
    return cand.withColumn("dist", F.levenshtein("name_a", "name_b").cast("int")).filter(
        F.col("dist") <= 1
    )


_RLE_ORACLE = f"""
    WITH d AS (SELECT doc_id, string_split({_NORM}, ' ') AS toks FROM documents),
    t AS (SELECT doc_id, pos, tok FROM (
            SELECT doc_id,
                   unnest([{{'pos': i, 'tok': toks[CAST(i AS INTEGER)]}}
                           for i in generate_series(1, len(toks))],
                          recursive := true)
            FROM d)),
    m AS (SELECT doc_id, pos, tok,
                 CASE WHEN lag(tok) OVER (PARTITION BY doc_id ORDER BY pos)
                      IS DISTINCT FROM tok THEN 1 ELSE 0 END AS brk
          FROM t),
    g AS (SELECT *, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                   ROWS UNBOUNDED PRECEDING) AS rid
          FROM m),
    runs AS (SELECT doc_id, rid - 1 AS run_idx, min(tok) AS token,
                    count(*) AS run_len
             FROM g GROUP BY doc_id, rid)
    SELECT doc_id, CAST(run_idx AS INTEGER) AS run_idx, token,
           CAST(run_len AS INTEGER) AS run_len
    FROM runs WHERE run_len >= 2
    """


@register("rle_tokens_udtf", _RLE_ORACLE)
def q_rle_tokens_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length encoding of token streams through the Spark-4 native
    Python UDTF surface (§2.12 TVF parity, third form beside built-in
    generators and mapInPandas): a `@udtf` class walks each row's token
    stream with an accumulator and emits (run_idx, token, run_len) rows
    for runs of length >= 2, integrated via SQL LATERAL join —
    Arrow-enabled, and an intentional whitelisted Python stage like the
    multimodal decoders. The oracle computes the identical runs with
    gaps-and-islands windows, certifying the stateful walk."""
    from .operators.udtfs import RunLengthTokens

    d = _t(spark, sf_dir, "documents")
    spark.udtf.register("rle_tokens", RunLengthTokens)
    d.createOrReplaceTempView("rle_src")
    return spark.sql(
        """
        SELECT s.doc_id, t.run_idx, t.token, t.run_len
        FROM rle_src s, LATERAL rle_tokens(s.text) t
        """
    )


_PHRASE_W = ("slow", "hash", "batch")

_PHRASE_ORACLE = f"""
    WITH d AS (SELECT doc_id, string_split({_NORM}, ' ') AS toks FROM documents),
    m AS (SELECT doc_id,
                 len([i for i in generate_series(1, len(toks) - 2)
                      if toks[CAST(i AS INTEGER)] = '{_PHRASE_W[0]}'
                         AND toks[CAST(i + 1 AS INTEGER)] = '{_PHRASE_W[1]}'
                         AND toks[CAST(i + 2 AS INTEGER)] = '{_PHRASE_W[2]}']) AS n
          FROM d)
    SELECT doc_id, CAST(n AS BIGINT) AS n_matches FROM m WHERE n >= 1
    """


@register("phrase_search_postings", _PHRASE_ORACLE)
def q_phrase_search_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search ("slow hash batch") through a positional
    inverted index: token postings (doc_id, position) are filtered to
    the phrase's words BEFORE any join — at realistic vocabularies that
    filter is the whole game, discarding all but a sliver of the corpus
    — then the phrase is a chain of equi-joins on (doc_id, pos),
    (doc_id, pos-1), (doc_id, pos-2): all hash joins over
    postings-sized inputs, the standard search-index query plan (at
    100 TB the postings table is precomputed once and this plan never
    rescans raw text). The oracle is the naive full-scan counting
    phrase starts per document."""
    d = _t(spark, sf_dir, "documents")
    norm = _norm_text()
    w0, w1, w2 = _PHRASE_W
    pos = d.select(
        "doc_id", F.posexplode(F.split(norm, " ")).alias("p", "tok")
    ).filter(F.col("tok").isin(*_PHRASE_W))
    t0 = pos.filter(F.col("tok") == w0).select("doc_id", "p")
    t1 = pos.filter(F.col("tok") == w1).select("doc_id", (F.col("p") - 1).alias("p"))
    t2 = pos.filter(F.col("tok") == w2).select("doc_id", (F.col("p") - 2).alias("p"))
    return (
        t0.join(t1, ["doc_id", "p"])
        .join(t2, ["doc_id", "p"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_matches"))
    )


_LEAK_ORACLE = f"""
    WITH RECURSIVE toks AS (SELECT doc_id, string_split({_NORM}, ' ') AS t FROM documents),
    cl AS (SELECT doc_id,
                  [array_to_string(t[(i*10+1):(i*10+10)], ' ')
                   for i in generate_series(0, CAST(ceil(len(t)/10.0) AS INT) - 1)] AS cs
           FROM toks),
    ch AS (SELECT DISTINCT doc_id, chunk
           FROM (SELECT doc_id, unnest(cs) AS chunk FROM cl)),
    full_ch AS (SELECT doc_id, chunk FROM ch
                WHERE len(string_split(chunk, ' ')) = 10),
    dfq AS (SELECT chunk, count(*) AS nd FROM full_ch GROUP BY 1),
    link AS (SELECT chunk FROM dfq WHERE nd BETWEEN 2 AND 10),
    pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM full_ch a
              JOIN link USING (chunk)
              JOIN full_ch b USING (chunk)
              WHERE a.doc_id < b.doc_id),
    edges AS (SELECT id_a AS s, id_b AS d FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(node, label) AS (
      SELECT DISTINCT s, s FROM edges
      UNION
      SELECT e.d, r.label FROM reach r JOIN edges e ON e.s = r.node
    ),
    labels AS (SELECT node, min(label) AS cid FROM reach GROUP BY node),
    asg AS (SELECT d.doc_id, coalesce(l.cid, d.doc_id) AS cluster_id
            FROM documents d LEFT JOIN labels l ON l.node = d.doc_id)
    SELECT doc_id, CAST(cluster_id AS BIGINT) AS cluster_id,
           CASE WHEN (cluster_id * 2654435761) % 100 < 80
                THEN 'train' ELSE 'test' END AS split
    FROM asg
    """


@register("leakage_safe_split", _LEAK_ORACLE)
def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/test split: near-duplicate documents must land
    in the SAME split, or held-out evaluation scores memorization. Docs
    sharing any full 10-token chunk are linked (linkage restricted to
    chunks seen in 2-10 docs: rarer is no evidence, more common is
    boilerplate — unlike `dedup_containment`'s exact prefix filter, a
    df window here is a SEMANTIC choice: linkage evidence, not recall),
    link chains are closed with distributed connected components
    (sharing is not transitive), and the 80/20 hash split keys on the
    CLUSTER id, so a component can never straddle splits — the
    invariant the naive doc-keyed `train_test_split` cannot give (the
    contrast test shows the naive split leaking). Chunk build and
    pairing are the inverted-index shape of `chunk_dedup_stats`
    (bounded group fan-out, never corpus-pairwise); the oracle replays
    linkage, a recursive min-reachability closure, and the split."""
    from .operators.dedup import connected_components

    d = _t(spark, sf_dir, "documents")
    norm = _norm_text()
    # full 10-token chunks via ONE codegen regex over the normalized
    # (single-space-joined) text: consecutive non-overlapping matches of
    # exactly 10 tokens — the partial tail never matches, and docs under
    # 10 tokens yield no chunks. Replaces the r9 sequence+transform+
    # slice+concat_ws HOF pipeline, which evaluated INTERPRETED per
    # chunk (r10 same-session A/B: 1.66 → 0.95 s, identical rows).
    pat = r"\S+" + r" \S+" * 9
    ch = d.select(
        "doc_id", F.explode(F.regexp_extract_all(norm, F.lit(pat), 0)).alias("chunk")
    )
    # STAR edges, not cliques: (min doc of the chunk group) -> (each
    # other member) has the identical transitive closure as all g^2/2
    # pairs but only g-1 edges per chunk and ONE shuffle (the group
    # aggregation) instead of a self-join plus a distinct over the
    # pair blowup — the oracle's clique-pair reach CTE closes to the
    # same min-label components. No pre-distinct on (doc_id, chunk) and
    # no post-distinct on the star pairs: collect_set dedups repeated
    # in-doc chunks inside the ONE group shuffle (nd counts the SET, not
    # the rows), and connected_components dedups its bidirectional edge
    # union internally — each dropped distinct was a full extra shuffle
    # of the widest intermediate (measured 1.57 -> 1.2 s warm).
    grp = (
        ch.groupBy("chunk")
        .agg(F.min("doc_id").alias("m"), F.collect_set("doc_id").alias("ds"))
        .filter((F.size("ds") >= 2) & (F.size("ds") <= 10))
    )
    pairs = (
        grp.select("m", F.explode("ds").alias("doc"))
        .filter(F.col("doc") != F.col("m"))
        .select(F.col("m").alias("id_a"), F.col("doc").alias("id_b"))
    )
    cc = connected_components(pairs).withColumnRenamed("node", "doc_id")
    asg = d.select("doc_id").join(cc, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).cast("long").alias("cluster_id"),
    )
    return asg.withColumn(
        "split",
        F.when((F.col("cluster_id") * 2654435761) % 100 < 80, "train").otherwise(
            "test"
        ),
    )


_TRI_ORACLE = """
    WITH p AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS s FROM lineitem),
    e AS (SELECT a.s AS x, b.s AS y
          FROM p a JOIN p b ON a.o = b.o AND a.s < b.s
          GROUP BY 1, 2 HAVING count(*) >= 2),
    tri AS (SELECT e1.x AS u, e1.y AS v, e2.y AS w
            FROM e e1
            JOIN e e2 ON e2.x = e1.x AND e2.y > e1.y
            JOIN e e3 ON e3.x = e1.y AND e3.y = e2.y),
    nodes AS (SELECT u AS n FROM tri
              UNION ALL SELECT v FROM tri
              UNION ALL SELECT w FROM tri)
    SELECT n AS part, CAST(count(*) AS BIGINT) AS n_triangles
    FROM nodes GROUP BY n
    """


@register("triangle_count_parts", _TRI_ORACLE)
def q_triangle_count_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle participation in the part co-bought graph
    (parts linked when co-ordered in >= 2 distinct orders — the df
    floor that separates signal ties from one-off baskets). Triangles
    are counted by degree-ordered orientation
    (operators/graph.triangle_participation): the 100 TB-safe plan
    whose wedge volume stays near the arboricity bound instead of
    exploding on hub nodes, all hash joins. The oracle counts the same
    triangles with the naive id-ordered 3-way self-join — valid because
    triangle counts are orientation-invariant, which is exactly what
    lets the engine pick the skew-safe orientation."""
    from .operators.graph import triangle_participation

    li = _t(spark, sf_dir, "lineitem")
    sets_ = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ps")
    )
    # i<j pairs via posexplode + suffix slice: half the explode volume
    # of the explode^2 + x<y form, all whole-stage codegen
    pairs = (
        sets_.select(F.posexplode("ps").alias("i", "x"), "ps")
        .select(
            "x",
            F.explode(F.slice("ps", F.col("i") + F.lit(2), F.size("ps"))).alias("y"),
        )
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
        .select("x", "y")
    )
    out = triangle_participation(pairs)
    # the select returns a NEW wrapper: it holds the operator output's
    # cache entry, or the entry is released when `out` dies at function
    # return and the caller's action recomputes the whole pipeline
    from .caching import hold

    return hold(
        out.select(F.col("node").alias("part"), F.col("n_triangles").cast("long")),
        out,
    )


_MAD_ORACLE = """
    WITH med AS (SELECT event_type, median(value) AS med
                 FROM events GROUP BY 1),
    dev AS (SELECT e.event_id, e.event_type, e.value, m.med,
                   abs(e.value - m.med) AS adev
            FROM events e JOIN med m USING (event_type)),
    mad AS (SELECT event_type, median(adev) AS mad FROM dev GROUP BY 1)
    SELECT d.event_id, d.event_type, round(d.value, 4) AS value,
           round(d.adev / (1.4826 * m.mad), 4) AS robust_z
    FROM dev d JOIN mad m USING (event_type)
    WHERE m.mad > 0 AND d.adev / (1.4826 * m.mad) > 3
    """


@register("mad_outliers", _MAD_ORACLE)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group anomaly scoring: median/MAD (not mean/stddev, so
    the outliers themselves cannot drag the threshold) over event values
    grouped by type; a row is anomalous when |x - median| exceeds 3
    consistency-scaled MADs (1.4826·MAD ≈ σ under normality). Two exact
    grouped percentiles (group-keyed SortAggregate — group-local, never
    a global sort), each joined back by BROADCAST because both stats
    tables are group-count-sized; the corpus shuffles only for the two
    group aggregations. Flags ~0.6% of this corpus's heavy-tailed
    values. The oracle replays median, MAD, and the threshold; the
    pre-round z comparison is bit-identical across engines because both
    compute the same IEEE expression."""
    # _events, not _t: the raw scan would bypass the ts-flavor probe and
    # read a NANOS-flavor events file (a flavor that HAS shipped in
    # earlier rounds) as a bare bigint ts
    e = _events(spark, sf_dir)
    med = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    dev = e.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(F.percentile("adev", F.lit(0.5)).alias("mad"))
    rz = F.col("adev") / (F.lit(1.4826) * F.col("mad"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter((F.col("mad") > 0) & (rz > 3))
        .select(
            "event_id",
            "event_type",
            F.round("value", 4).alias("value"),
            F.round(rz, 4).alias("robust_z"),
        )
    )


_CHI2_ORACLE = """
    WITH cell AS (SELECT lang, source, CAST(count(*) AS DOUBLE) AS o
                  FROM documents GROUP BY 1, 2),
    rt AS (SELECT lang, sum(o) AS r FROM cell GROUP BY 1),
    ct AS (SELECT source, sum(o) AS c FROM cell GROUP BY 1),
    n AS (SELECT sum(o) AS n FROM cell),
    scored AS (
      SELECT cell.lang, cell.source, CAST(cell.o AS BIGINT) AS observed,
             round(rt.r * ct.c / n.n, 4) AS expected,
             round((cell.o - rt.r * ct.c / n.n)
                   / sqrt(rt.r * ct.c / n.n), 4) AS std_residual,
             abs((cell.o - rt.r * ct.c / n.n) / sqrt(rt.r * ct.c / n.n)) AS a
      FROM cell JOIN rt USING (lang) JOIN ct USING (source) CROSS JOIN n
    )
    SELECT lang, source, observed, expected, std_residual
    FROM scored
    ORDER BY a DESC, lang, source
    LIMIT 20
    """


@register("chi2_residuals", _CHI2_ORACLE)
def q_chi2_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square association screen between two categoricals (lang x
    source): per-cell standardized residuals (O - E)/sqrt(E) against
    the independence expectation E = row_total * col_total / N, top-20
    cells by |residual| — the data-audit that catches a source
    over-representing a language before training. One cell-count
    groupBy on the corpus; row/col margins are cell-table aggregations
    broadcast back; top-20 via TakeOrderedAndProject. The unrounded
    |residual| sort key with (lang, source) tiebreak keeps the cut
    deterministic cross-engine."""
    d = _t(spark, sf_dir, "documents")
    cell = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("double").alias("o")
    )
    rt = cell.groupBy("lang").agg(F.sum("o").alias("r"))
    ct = cell.groupBy("source").agg(F.sum("o").alias("c"))
    n = cell.agg(F.sum("o").alias("n"))
    e = F.col("r") * F.col("c") / F.col("n")
    resid = (F.col("o") - e) / F.sqrt(e)
    return (
        cell.join(F.broadcast(rt), "lang")
        .join(F.broadcast(ct), "source")
        .crossJoin(F.broadcast(n))
        .select(
            "lang",
            "source",
            F.col("o").cast("long").alias("observed"),
            F.round(e, 4).alias("expected"),
            F.round(resid, 4).alias("std_residual"),
            F.abs(resid).alias("a"),
        )
        .orderBy(F.col("a").desc(), "lang", "source")
        .limit(20)
        .drop("a")
    )


_PQ_ORACLE = """
    WITH sub AS (
      SELECT vec_id, t.s,
             list_transform(generate_series(1, 16),
                            i -> CAST(embedding[t.s * 16 + i] AS DOUBLE)) AS sv
      FROM embeddings, range(0, 4) t(s)
    ),
    cent AS (SELECT vec_id AS cid, s, sv AS cv FROM sub
             WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 16)),
    enc AS (
      SELECT sub.vec_id AS n_id, sub.s, cent.cid,
             CAST(floor(list_sum(list_transform(generate_series(1, 16),
                  i -> (sv[i] - cv[i]) * (sv[i] - cv[i]))) * 10000 + 0.5) AS BIGINT) AS d4
      FROM sub JOIN cent ON sub.s = cent.s
    ),
    codes AS (
      SELECT n_id, s, cid AS code FROM (
        SELECT *, row_number() OVER (PARTITION BY n_id, s ORDER BY d4, cid) AS rn
        FROM enc
      ) WHERE rn = 1
    ),
    lut AS (
      SELECT q.vec_id AS q_id, q.s, cent.cid AS code,
             CAST(floor(list_sum(list_transform(generate_series(1, 16),
                  i -> (q.sv[i] - cv[i]) * (q.sv[i] - cv[i]))) * 10000 + 0.5) AS BIGINT) AS qd4
      FROM sub q JOIN cent ON q.s = cent.s
      WHERE q.vec_id < 5
    ),
    adc AS (
      SELECT l.q_id, c.n_id, sum(l.qd4) AS adc4
      FROM codes c JOIN lut l ON l.s = c.s AND l.code = c.code
      WHERE c.n_id != l.q_id
      GROUP BY l.q_id, c.n_id
    ),
    approx AS (
      SELECT q_id, n_id, round(adc4 / 10000.0, 4) AS adc,
             row_number() OVER (PARTITION BY q_id ORDER BY adc4, n_id) AS rank
      FROM adc
    ),
    fq AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 5),
    exact AS (
      SELECT q_id, n_id FROM (
        SELECT fq.q_id, e.vec_id AS n_id,
               row_number() OVER (PARTITION BY fq.q_id ORDER BY
                 CAST(floor(list_sum(list_transform(generate_series(1, 64),
                   i -> (CAST(fq.q_vec[i] AS DOUBLE) - CAST(e.embedding[i] AS DOUBLE))
                      * (CAST(fq.q_vec[i] AS DOUBLE) - CAST(e.embedding[i] AS DOUBLE))))
                   * 10000 + 0.5) AS BIGINT),
                 e.vec_id) AS rk
        FROM embeddings e CROSS JOIN fq WHERE e.vec_id != fq.q_id
      ) WHERE rk <= 5
    )
    SELECT a.q_id, a.n_id, a.adc, a.rank, (x.n_id IS NOT NULL) AS in_exact
    FROM approx a LEFT JOIN exact x ON a.q_id = x.q_id AND a.n_id = x.n_id
    WHERE a.rank <= 5
"""


@register("ann_pq", _PQ_ORACLE)
def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (4 subspaces x 16 centroids; ~2 bytes per
    64-dim vector) scored via asymmetric-distance lookup tables: the
    corpus-side scan touches only integer codes, the per-query distance
    tables broadcast at a few KB, and recall is annotated per row against
    the exact float ranking. The codebook is a deterministic seeded
    sample (lowest-id rows) so the oracle replays training, encoding and
    ADC search end-to-end; production swaps in per-subspace kmeans_lloyd
    without changing the search plan."""
    from .operators.similarity import pq_topk

    e = _t(spark, sf_dir, "embeddings")
    return pq_topk(e, e.filter(F.col("vec_id") < 5), k=5)


_BM25_CTES = f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS term FROM documents
    ),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
    stats AS (
      SELECT sum(dl)::DOUBLE / count(*) AS avgdl, count(*)::DOUBLE AS n FROM dl
    ),
    tf AS (
      SELECT doc_id, term, count(*) AS tf FROM toks
      WHERE term IN ('scan', 'customer', 'window')
      GROUP BY doc_id, term
    ),
    dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
    w AS (
      SELECT tf.doc_id,
             CAST(floor(
               ln(1.0 + ((stats.n - dfreq.df) + 0.5) / (dfreq.df + 0.5))
               * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (0.25 + (0.75 * dl.dl) / stats.avgdl))
               * 10000 + 0.5) AS BIGINT) AS w4
      FROM tf
      JOIN dfreq ON tf.term = dfreq.term
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats
    ),
    scored AS (
      SELECT doc_id, sum(w4) AS s4, count(*) AS matched_terms FROM w GROUP BY doc_id
    )"""

_BM25_ORACLE = f"""
    {_BM25_CTES}
    SELECT doc_id, round(s4 / 10000.0, 4) AS bm25, matched_terms
    FROM scored ORDER BY s4 DESC, doc_id LIMIT 10
"""


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared BM25 scorer: (doc_id, s4, matched_terms) where s4 is the
    exact integer-scaled score (see q_bm25_search for the plan notes)."""
    terms = ["scan", "customer", "window"]
    k1, b = 1.2, 0.75
    d = _t(spark, sf_dir, "documents")
    norm = _norm_text()
    toks = d.select("doc_id", F.explode(F.split(norm, " ")).alias("term"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    tot = dl.agg(F.sum("dl").alias("t"), F.count(F.lit(1)).alias("n")).first()
    # exact int/int division: bit-identical to the oracle's sum::DOUBLE/count
    avgdl, n_docs = tot.t / tot.n, float(tot.n)
    tf = (
        toks.filter(F.col("term").isin(terms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    idf = F.log(
        F.lit(1.0)
        + ((F.lit(n_docs) - F.col("df")) + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    w_t = (
        idf
        * (F.col("tf") * F.lit(k1 + 1))
        / (
            F.col("tf")
            + F.lit(k1) * (F.lit(1 - b) + (F.lit(b) * F.col("dl")) / F.lit(avgdl))
        )
    )
    w4 = F.floor(w_t * 10000 + F.lit(0.5)).cast("long")
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .select("doc_id", w4.alias("w4"))
        .groupBy("doc_id")
        .agg(F.sum("w4").alias("s4"), F.count(F.lit(1)).alias("matched_terms"))
    )
    return scored


@register("bm25_search", _BM25_ORACLE)
def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (k1=1.2, b=0.75) top-10 retrieval for a fixed term query —
    the lexical-search counterpart of tfidf_top_terms and the ranking
    half of a RAG corpus pipeline. Plan shape for 100 TB: one tokenize
    pass, the query-term tf table is filtered BEFORE its groupBy (the
    corpus-size aggregate is the only full pass), term df and the two
    corpus scalars broadcast, and the final cut is TakeOrderedAndProject
    on an integer sort key — no global sort, no unpartitioned window.
    Per-term weights are floor(w*1e4+0.5) integers so the per-doc SUM is
    exact under any addition order (float BM25 sums would be
    shuffle-order-dependent at the 4th decimal)."""
    scored = _bm25_scored(spark, sf_dir)
    return (
        scored.orderBy(F.col("s4").desc(), "doc_id")
        .limit(10)
        .select(
            "doc_id",
            F.round(F.col("s4") / 10000.0, 4).alias("bm25"),
            "matched_terms",
        )
    )


@register(
    "scd2_intervals",
    """
    WITH o AS (
      SELECT user_id, event_id, event_type, ts,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events WHERE user_id % 10 = 0
    ),
    ch AS (
      SELECT user_id, event_id, event_type, ts FROM o
      WHERE prev IS NULL OR prev != event_type
    ),
    iv AS (
      SELECT user_id, event_type, ts,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS vt
      FROM ch
    )
    SELECT user_id, event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
           coalesce(strftime(vt, '%Y-%m-%d %H:%M:%S'), '9999-12-31 00:00:00')
             AS valid_to,
           (vt IS NULL) AS is_current
    FROM iv
    """,
)
def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 build from a change log: compress
    each user's event stream into [valid_from, valid_to) intervals of the
    prevailing event_type, open-ended sentinel + is_current on the live
    row — the upsert-log -> dimension-history job every warehouse runs.
    One shuffle by user_id serves both windows (lag to detect changes,
    lead for the closing edge: same partitioning AND sort key, so
    Catalyst reuses the sorted exchange instead of re-sorting).
    Deterministic under equal timestamps via the event_id tiebreak."""
    ev = _events(spark, sf_dir).filter(F.col("user_id") % 10 == 0)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changed = ev.withColumn("prev", F.lag("event_type").over(w)).filter(
        F.col("prev").isNull() | (F.col("prev") != F.col("event_type"))
    )
    out = changed.withColumn("vt", F.lead("ts").over(w))
    return out.select(
        "user_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.coalesce(
            F.date_format("vt", "yyyy-MM-dd HH:mm:ss"),
            F.lit("9999-12-31 00:00:00"),
        ).alias("valid_to"),
        F.col("vt").isNull().alias("is_current"),
    )


@register(
    "rolling_active_users",
    """
    WITH daily AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
    days AS (SELECT DISTINCT d FROM daily),
    contrib AS (
      SELECT d + CAST(i AS INTEGER) AS wend, user_id FROM daily, range(0, 7) t(i)
    ),
    res AS (
      SELECT wend, count(DISTINCT user_id) AS active_7d FROM contrib
      WHERE wend IN (SELECT d FROM days)
      GROUP BY wend
    )
    SELECT strftime(wend, '%Y-%m-%d') AS day, active_7d FROM res
    """,
)
def q_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day. Sliding-window COUNT
    DISTINCT is NOT expressible as a window function (distinct-over-frame
    is unsupported) and the naive form is a range self-join that explodes
    quadratically with activity. The distributed shape: dedup to (day,
    user) first (the only full-corpus shuffle), then each pair
    contributes to exactly the 7 window-end days it can influence via a
    bounded sequence-explode — expansion factor = window length, fixed —
    and a second distinct-aggregate by window end. Trailing windows with
    no events of their own are dropped by a broadcast semi-join against
    the observed-day dimension."""
    ev = _events(spark, sf_dir)
    daily = ev.select(F.to_date("ts").alias("d"), "user_id").distinct()
    days = daily.select("d").distinct().withColumnRenamed("d", "wend")
    contrib = daily.select(
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"), "d", "user_id"
    ).select(F.date_add("d", F.col("i")).alias("wend"), "user_id")
    res = (
        contrib.join(F.broadcast(days), "wend")
        .groupBy("wend")
        .agg(F.countDistinct("user_id").alias("active_7d"))
    )
    return res.select(
        F.date_format("wend", "yyyy-MM-dd").alias("day"), "active_7d"
    )


_SNAPDIFF_ORACLE = """
    WITH b AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             o_totalprice + 100.0 AS o_totalprice, o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 97 != 0 AND o_orderkey % 13 = 0
      UNION ALL
      SELECT o_orderkey, o_custkey, o_orderstatus,
             o_totalprice, o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 97 != 0 AND o_orderkey % 13 != 0
      UNION ALL
      SELECT o_orderkey + 10000000, o_custkey, o_orderstatus,
             o_totalprice, o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 101 = 0
    )
    SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
           CASE WHEN b.o_orderkey IS NULL THEN 'deleted'
                WHEN a.o_orderkey IS NULL THEN 'inserted'
                ELSE 'updated' END AS change_type,
           round(a.o_totalprice, 4) AS old_totalprice,
           round(b.o_totalprice, 4) AS new_totalprice
    FROM orders a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
    WHERE a.o_orderkey IS NULL OR b.o_orderkey IS NULL
       OR a.o_custkey IS DISTINCT FROM b.o_custkey
       OR a.o_orderstatus IS DISTINCT FROM b.o_orderstatus
       OR a.o_totalprice IS DISTINCT FROM b.o_totalprice
       OR a.o_orderdate IS DISTINCT FROM b.o_orderdate
       OR a.o_orderpriority IS DISTINCT FROM b.o_orderpriority
"""


@register("snapshot_diff_changelog", _SNAPDIFF_ORACLE)
def q_snapshot_diff_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff: derive the insert/update/delete changelog between
    two versions of a keyed table — the reconciliation job behind CDC
    backfills and storage-format migrations. Snapshot B is derived from A
    by deterministic rules (keys %97 deleted, %13 repriced, %101 cloned
    as inserts) so the oracle replays both sides. The diff itself is ONE
    co-partitioned full-outer join on the key; unchanged rows are
    filtered by null-safe column comparison before anything is emitted,
    so output is proportional to the churn, not the table. At 100 TB both
    snapshots shuffle once on the join key (bucketed layouts would make
    it shuffle-free); no sort, no window."""
    cols = [
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    ]
    a = _t(spark, sf_dir, "orders")
    keep = a.filter(F.col("o_orderkey") % 97 != 0)
    b = (
        keep.filter(F.col("o_orderkey") % 13 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(100.0))
        .unionByName(keep.filter(F.col("o_orderkey") % 13 != 0))
        .unionByName(
            a.filter(F.col("o_orderkey") % 101 == 0).withColumn(
                "o_orderkey", F.col("o_orderkey") + F.lit(10000000)
            )
        )
    )
    al = a.select([F.col(c).alias(f"a_{c}") for c in ["o_orderkey"] + cols])
    bl = b.select([F.col(c).alias(f"b_{c}") for c in ["o_orderkey"] + cols])
    j = al.join(bl, al.a_o_orderkey == bl.b_o_orderkey, "full_outer")
    changed = F.lit(False)
    for c in cols:
        changed = changed | ~F.col(f"a_{c}").eqNullSafe(F.col(f"b_{c}"))
    return (
        j.filter(
            F.col("a_o_orderkey").isNull()
            | F.col("b_o_orderkey").isNull()
            | changed
        )
        .select(
            F.coalesce("a_o_orderkey", "b_o_orderkey").alias("o_orderkey"),
            F.when(F.col("b_o_orderkey").isNull(), "deleted")
            .when(F.col("a_o_orderkey").isNull(), "inserted")
            .otherwise("updated")
            .alias("change_type"),
            F.round("a_o_totalprice", 4).alias("old_totalprice"),
            F.round("b_o_totalprice", 4).alias("new_totalprice"),
        )
    )


@register(
    "ewma_smoothing",
    """
    WITH w AS (
      SELECT user_id, event_id, ts, value,
             list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS xs
      FROM events WHERE user_id % 25 = 0
    )
    SELECT user_id, event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
           round(value, 4) AS value,
           round(CAST(floor(
             list_sum(list_transform(generate_series(1, len(xs)),
                      i -> pow(0.75, len(xs) - i) * xs[i]))
             / list_sum(list_transform(generate_series(1, len(xs)),
                        i -> pow(0.75, len(xs) - i)))
             * 10000 + 0.5) AS BIGINT) / 10000.0, 4) AS ewma
    FROM w
    """,
)
def q_ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (alpha=0.25) per user over a
    bounded 8-row trailing frame — the smoothing/alerting primitive for
    metric streams. True EWMA is a recursion no engine's window grammar
    expresses; the bounded-frame form (weights (1-alpha)^age normalized
    over the frame, >97% of the infinite mass at age 8) is the
    distributed-safe equivalent: one shuffle by user, a ROWS frame
    collect, and an in-row weighted fold. 0.75^k is exactly representable
    (3^k/4^k), so the fold is engine-portable; the final value goes
    through floor(x*1e4+0.5) like every cross-engine float here."""
    ev = _events(spark, sf_dir).filter(F.col("user_id") % 25 == 0)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-7, 0)
    )
    xs = F.collect_list("value").over(w)
    n = F.size(F.col("xs"))
    num = F.aggregate(
        F.sequence(F.lit(1), n),
        F.lit(0.0),
        lambda acc, i: acc + F.pow(F.lit(0.75), (n - i).cast("double"))
        * F.element_at(F.col("xs"), i),
    )
    den = F.aggregate(
        F.sequence(F.lit(1), n),
        F.lit(0.0),
        lambda acc, i: acc + F.pow(F.lit(0.75), (n - i).cast("double")),
    )
    ewma4 = F.floor(num / den * 10000 + F.lit(0.5)).cast("long")
    return (
        ev.withColumn("xs", xs)
        .select(
            "user_id",
            "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
            F.round("value", 4).alias("value"),
            F.round(ewma4 / 10000.0, 4).alias("ewma"),
        )
    )


_HYBRID_ORACLE = f"""
    {_BM25_CTES},
    lex AS (
      SELECT doc_id, r_lex FROM (
        SELECT doc_id, row_number() OVER (ORDER BY s4 DESC, doc_id) AS r_lex
        FROM scored
      ) WHERE r_lex <= 50
    ),
    qv AS (SELECT embedding AS q_vec FROM embeddings WHERE vec_id = 0),
    sem AS (
      SELECT doc_id, r_sem FROM (
        SELECT n_id AS doc_id,
               row_number() OVER (ORDER BY sim DESC, n_id) AS r_sem
        FROM (
          SELECT e.vec_id AS n_id, {_COSINE} AS sim
          FROM (SELECT vec_id, embedding AS n_vec FROM embeddings
                WHERE vec_id < 500 AND vec_id != 0) e
          CROSS JOIN qv
        )
      ) WHERE r_sem <= 50
    ),
    fused AS (
      SELECT coalesce(l.doc_id, s.doc_id) AS doc_id, l.r_lex, s.r_sem,
             CAST(floor((coalesce(1.0 / (60 + l.r_lex), 0.0)
                       + coalesce(1.0 / (60 + s.r_sem), 0.0))
                  * 1000000 + 0.5) AS BIGINT) AS rrf6
      FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
    )
    SELECT doc_id, round(rrf6 / 1000000.0, 6) AS rrf, r_lex, r_sem
    FROM fused ORDER BY rrf6 DESC, doc_id LIMIT 10
"""


@register("hybrid_search_rrf", _HYBRID_ORACLE)
def q_hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion: the top-50 lexical
    (BM25) and top-50 semantic (cosine ANN) rankings for one query are
    fused by RRF(60) — the standard two-tower RAG retrieval pattern,
    composed entirely from this engine's own operators. Both candidate
    lists are k-bounded before fusion, so the full-outer fuse join and
    the final TakeOrderedAndProject touch at most 100 rows no matter the
    corpus size; each leg keeps its own scale shape (BM25: filtered tf +
    integer sort key; ANN: broadcast query, no corpus shuffle). RRF
    contributions are summed as floor(x*1e6+0.5) integers — rank-derived
    rationals like 1/63 are inexact doubles, so the fusion sum goes
    through the same exact-integer discipline as every cross-engine
    float here."""
    from .operators.similarity import cosine_topk

    scored = _bm25_scored(spark, sf_dir)
    # the rank window runs AFTER limit(50), so its input is k-bounded at
    # any corpus scale. The partition key is constant-0 but written as a
    # column expression: a bare lit(0) gets constant-folded out of the
    # window spec and Spark then warns about (and plans) a global
    # single-partition window even though the data here is 50 rows by
    # construction.
    g = (F.col("doc_id") * 0).cast("int")
    wl = Window.partitionBy("g").orderBy(F.col("s4").desc(), "doc_id")
    lex = (
        scored.orderBy(F.col("s4").desc(), "doc_id")
        .limit(50)
        .withColumn("g", g)
        .withColumn("r_lex", F.row_number().over(wl).cast("long"))
        .select("doc_id", "r_lex")
    )
    e = _t(spark, sf_dir, "embeddings")
    sem = cosine_topk(
        e.filter(F.col("vec_id") < 500), e.filter(F.col("vec_id") == 0), k=50
    ).select(F.col("n_id").alias("doc_id"), F.col("rank").alias("r_sem"))
    fused = lex.join(sem, "doc_id", "full_outer")
    rrf6 = F.floor(
        (
            F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("r_lex")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("r_sem")), F.lit(0.0))
        )
        * 1000000
        + F.lit(0.5)
    ).cast("long")
    return (
        fused.withColumn("rrf6", rrf6)
        .orderBy(F.col("rrf6").desc(), "doc_id")
        .limit(10)
        .select(
            "doc_id",
            F.round(F.col("rrf6") / 1000000.0, 6).alias("rrf"),
            "r_lex",
            "r_sem",
        )
    )


@register(
    "data_quality_audit",
    """
    WITH t AS (
      SELECT 'orders_null_custkey' AS check_name,
             (SELECT count(*) FROM orders WHERE o_custkey IS NULL) AS violations,
             (SELECT count(*) FROM orders) AS total
      UNION ALL
      SELECT 'orders_nonpositive_price',
             (SELECT count(*) FROM orders WHERE o_totalprice <= 0),
             (SELECT count(*) FROM orders)
      UNION ALL
      SELECT 'orders_bad_status',
             (SELECT count(*) FROM orders
              WHERE o_orderstatus NOT IN ('O', 'F', 'P')),
             (SELECT count(*) FROM orders)
      UNION ALL
      SELECT 'orders_duplicate_key',
             (SELECT count(*) - count(DISTINCT o_orderkey) FROM orders),
             (SELECT count(*) FROM orders)
      UNION ALL
      SELECT 'orders_orphan_custkey',
             (SELECT count(*) FROM orders o LEFT JOIN customer c
              ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL),
             (SELECT count(*) FROM orders)
      UNION ALL
      SELECT 'lineitem_orphan_orderkey',
             (SELECT count(*) FROM lineitem l LEFT JOIN orders o
              ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL),
             (SELECT count(*) FROM lineitem)
      UNION ALL
      SELECT 'documents_nchars_mismatch',
             (SELECT count(*) FROM documents WHERE n_chars != length(text)),
             (SELECT count(*) FROM documents)
      UNION ALL
      SELECT 'documents_too_short',
             (SELECT count(*) FROM documents WHERE length(text) < 100),
             (SELECT count(*) FROM documents)
    )
    SELECT check_name, violations, total, violations = 0 AS passed
    FROM t ORDER BY check_name
    """,
)
def q_data_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectation-suite audit (the Great-Expectations/dbt-test job run
    before a corpus is trusted): null/range/domain/uniqueness checks as
    conditional aggregates in ONE pass per table, referential integrity
    as anti-joins whose output is a violation COUNT (never the violating
    rows), cross-field consistency (n_chars vs length(text)), and a
    minimum-length expectation that genuinely fails on this corpus — an
    audit that can't flag anything proves nothing. Output is
    check-count-sized regardless of data scale; every check is
    map-side-combinable or a single equi-join."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    li = _t(spark, sf_dir, "lineitem")
    d = _t(spark, sf_dir, "documents")

    o_tall = o.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(F.col("o_custkey").isNull().cast("long")).alias("v_null"),
        F.sum((F.col("o_totalprice") <= 0).cast("long")).alias("v_price"),
        F.sum((~F.col("o_orderstatus").isin("O", "F", "P")).cast("long")).alias(
            "v_status"
        ),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("v_dup"),
    ).select(
        F.expr(
            "stack(4, 'orders_null_custkey', v_null,"
            " 'orders_nonpositive_price', v_price,"
            " 'orders_bad_status', v_status,"
            " 'orders_duplicate_key', v_dup) AS (check_name, violations)"
        ),
        "total",
    )
    o_total = o.agg(F.count(F.lit(1)).alias("total"))
    orphan_o = (
        o.join(c.select("c_custkey"), o.o_custkey == c.c_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("violations"))
        .select(F.lit("orders_orphan_custkey").alias("check_name"), "violations")
        .crossJoin(o_total)
    )
    li_total = li.agg(F.count(F.lit(1)).alias("total"))
    orphan_li = (
        li.join(
            o.select("o_orderkey"), li.l_orderkey == o.o_orderkey, "left_anti"
        )
        .agg(F.count(F.lit(1)).alias("violations"))
        .select(F.lit("lineitem_orphan_orderkey").alias("check_name"), "violations")
        .crossJoin(li_total)
    )
    d_tall = d.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum((F.col("n_chars") != F.length("text")).cast("long")).alias("v_nc"),
        F.sum((F.length("text") < 100).cast("long")).alias("v_short"),
    ).select(
        F.expr(
            "stack(2, 'documents_nchars_mismatch', v_nc,"
            " 'documents_too_short', v_short) AS (check_name, violations)"
        ),
        "total",
    )
    tall = (
        o_tall.select("check_name", "violations", "total")
        .unionByName(orphan_o.select("check_name", "violations", "total"))
        .unionByName(orphan_li.select("check_name", "violations", "total"))
        .unionByName(d_tall.select("check_name", "violations", "total"))
    )
    return tall.withColumn("passed", F.col("violations") == 0).orderBy("check_name")


@register(
    "join_size_estimate",
    """
    WITH cnt AS (
      SELECT user_id, count(*) AS n_rows FROM events GROUP BY user_id
    ),
    tot AS (SELECT sum(n_rows * n_rows) AS t FROM cnt)
    SELECT user_id, n_rows, n_rows * n_rows AS est_pairs,
           round(CAST(n_rows * n_rows AS DOUBLE) / t, 6) AS share
    FROM cnt CROSS JOIN tot
    ORDER BY est_pairs DESC, user_id LIMIT 10
    """,
)
def q_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join cardinality estimate: for a prospective self-join on
    user_id, the exact output size is sum over keys of n_k^2 — computed
    from ONE group-count pass, never by running the join. The top
    contributing keys and their share of the total are exactly the skew
    report that decides between a plain shuffle join, salting, or AQE
    skew splitting at 100 TB (estimate cost: one map-side-combinable
    aggregation over the fact table; the join it sizes could be 1000x
    larger than the table itself). Generalizes to A-join-B by joining
    the two per-key count tables."""
    ev = _events(spark, sf_dir)
    cnt = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_rows"))
    tot = cnt.agg(F.sum(F.col("n_rows") * F.col("n_rows")).alias("t"))
    return (
        cnt.crossJoin(F.broadcast(tot))
        .select(
            "user_id",
            "n_rows",
            (F.col("n_rows") * F.col("n_rows")).alias("est_pairs"),
            F.round(
                (F.col("n_rows") * F.col("n_rows")).cast("double") / F.col("t"), 6
            ).alias("share"),
        )
        .orderBy(F.col("est_pairs").desc(), "user_id")
        .limit(10)
    )


@register(
    "incremental_agg_view",
    """
    WITH b AS (
      SELECT o_orderkey, o_custkey, o_totalprice + 100.0 AS o_totalprice
      FROM orders WHERE o_orderkey % 97 != 0 AND o_orderkey % 13 = 0
      UNION ALL
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders WHERE o_orderkey % 97 != 0 AND o_orderkey % 13 != 0
      UNION ALL
      SELECT o_orderkey + 10000000, o_custkey, o_totalprice
      FROM orders WHERE o_orderkey % 101 = 0
    )
    SELECT o_custkey,
           round(CAST(sum(CAST(round(o_totalprice, 4) AS DECIMAL(20,4)))
                 AS DOUBLE), 4) AS revenue,
           count(*) AS n_orders
    FROM b GROUP BY o_custkey
    """,
)
def q_incremental_agg_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: a per-customer revenue
    aggregate is maintained under the same churn rules as
    snapshot_diff_changelog by merging DELTAS (deletes contribute
    negative rows, updates contribute the difference, inserts positive)
    into the existing aggregate — the base table is never rescanned. The
    ORACLE recomputes the aggregate from the full new snapshot, so a
    green row certifies maintained == recomputed exactly; that equality
    only holds because contributions are summed as DECIMAL (float sums
    would differ between the delta order and the rescan order). At
    100 TB this is the view-refresh economics: delta cost ~ churn size,
    recompute cost ~ table size. Groups whose count reaches zero are
    retired from the view."""
    a = _t(spark, sf_dir, "orders")
    dec = lambda c: F.round(c, 4).cast("decimal(20,4)")  # noqa: E731
    base = a.groupBy("o_custkey").agg(
        F.sum(dec(F.col("o_totalprice"))).alias("rev"),
        F.count(F.lit(1)).alias("n"),
    )
    deletes = a.filter(F.col("o_orderkey") % 97 == 0).select(
        "o_custkey",
        (-dec(F.col("o_totalprice"))).alias("d_rev"),
        F.lit(-1).cast("long").alias("d_n"),
    )
    updates = a.filter(
        (F.col("o_orderkey") % 97 != 0) & (F.col("o_orderkey") % 13 == 0)
    ).select(
        "o_custkey",
        (dec(F.col("o_totalprice") + F.lit(100.0)) - dec(F.col("o_totalprice"))).alias(
            "d_rev"
        ),
        F.lit(0).cast("long").alias("d_n"),
    )
    inserts = a.filter(F.col("o_orderkey") % 101 == 0).select(
        "o_custkey",
        dec(F.col("o_totalprice")).alias("d_rev"),
        F.lit(1).cast("long").alias("d_n"),
    )
    delta = (
        deletes.unionByName(updates)
        .unionByName(inserts)
        .groupBy("o_custkey")
        .agg(F.sum("d_rev").alias("d_rev"), F.sum("d_n").alias("d_n"))
    )
    zero = F.lit(0).cast("decimal(30,4)")
    merged = (
        base.join(delta, "o_custkey", "full_outer")
        .select(
            "o_custkey",
            (F.coalesce("rev", zero) + F.coalesce("d_rev", zero)).alias("rev"),
            (F.coalesce("n", F.lit(0)) + F.coalesce("d_n", F.lit(0))).alias(
                "n_orders"
            ),
        )
        .filter(F.col("n_orders") > 0)
    )
    return merged.select(
        "o_custkey",
        F.round(F.col("rev").cast("double"), 4).alias("revenue"),
        "n_orders",
    )


_QN_GRID = ", ".join(str(i / 20.0) for i in range(21))

_QN_ORACLE = f"""
    WITH pr AS (
      SELECT doc_id, source, n_chars,
             percent_rank() OVER (PARTITION BY source
                                  ORDER BY n_chars, doc_id) AS pr
      FROM documents
    ),
    grid AS (SELECT quantile_cont(n_chars, [{_QN_GRID}]) AS g FROM documents),
    binned AS (
      SELECT *, least(CAST(floor(pr * 20) AS INTEGER), 19) AS idx
      FROM pr CROSS JOIN grid
    )
    SELECT doc_id, source, n_chars, round(pr, 6) AS src_pr,
           round(CAST(floor(
             (g[idx + 1] + (g[idx + 2] - g[idx + 1]) * (pr * 20 - idx))
             * 10000 + 0.5) AS BIGINT) / 10000.0, 4) AS normalized
    FROM binned
"""


@register("quantile_normalize_scores", _QN_ORACLE)
def q_quantile_normalize_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source quantile normalization: each document's n_chars is
    mapped to the POOLED distribution's value at the document's
    within-source percent rank — the alignment step that stops one
    source's systematically-longer documents from dominating
    length-based curation thresholds. Scale shape: the rank window is
    partitioned by source (never global), the pooled quantile function
    is compressed to a 21-point grid computed in ONE aggregate and
    broadcast, and the per-row mapping is linear interpolation into that
    grid — so the normalization is two shuffles total regardless of
    corpus size. Deterministic ties via doc_id; the interpolated value
    goes through floor(x*1e4+0.5)."""
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    grid = d.agg(F.expr(f"percentile(n_chars, array({_QN_GRID}))").alias("g"))
    pr = d.withColumn("pr", F.percent_rank().over(w)).crossJoin(F.broadcast(grid))
    idx = F.least(F.floor(F.col("pr") * 20).cast("int"), F.lit(19))
    binned = pr.withColumn("idx", idx)
    lo = F.element_at("g", F.col("idx") + 1)
    hi = F.element_at("g", F.col("idx") + 2)
    interp = lo + (hi - lo) * (F.col("pr") * 20 - F.col("idx"))
    n4 = F.floor(interp * 10000 + F.lit(0.5)).cast("long")
    return binned.select(
        "doc_id",
        "source",
        "n_chars",
        F.round("pr", 6).alias("src_pr"),
        F.round(n4 / 10000.0, 4).alias("normalized"),
    )


@register(
    "multimodal_audio_energy",
    """
    WITH s AS (
      SELECT doc_id, i, ascii(substr(text, i, 1)) - 128 AS v,
             CAST(floor((i - 1) / 16) AS BIGINT) AS window_idx
      FROM documents, generate_series(1, 64) t(i)
      WHERE i <= len(text)
    ),
    agg AS (
      SELECT doc_id, window_idx, sum(v * v) AS sumsq
      FROM s GROUP BY doc_id, window_idx HAVING count(*) = 16
    )
    SELECT doc_id, window_idx,
           round(CAST(floor(sqrt(sumsq / 16.0) * 10000 + 0.5) AS BIGINT)
                 / 10000.0, 4) AS rms
    FROM agg
    """,
)
def q_multimodal_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-modality plumbing: binary payload -> PCM-u8 samples ->
    per-16-sample-window RMS energy via Arrow-batched mapInPandas (the
    third intentional Python-stage family member beside image decode and
    frame sampling; real codec stubbed per the container's no-media-libs
    constraint, batch shape and schema real). The oracle replays the
    deterministic sample derivation and the exact integer sum-of-squares
    in SQL."""
    from .operators.multimodal import attach_binary_payload, audio_window_energy

    d = _t(spark, sf_dir, "documents")
    return audio_window_energy(attach_binary_payload(d))


@register(
    "session_event_paths",
    """
    WITH r AS (
      SELECT user_id, CAST(ts AS DATE) AS d, event_type,
             row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    p AS (
      SELECT user_id, d,
             max(CASE WHEN rn = 1 THEN event_type END) AS e1,
             max(CASE WHEN rn = 2 THEN event_type END) AS e2,
             max(CASE WHEN rn = 3 THEN event_type END) AS e3
      FROM r WHERE rn <= 3 GROUP BY user_id, d
    )
    SELECT e1 || '>' || e2 || '>' || e3 AS path, count(*) AS n_sessions
    FROM p WHERE e3 IS NOT NULL
    GROUP BY 1 ORDER BY n_sessions DESC, path LIMIT 10
    """,
)
def q_session_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence mining: the top-10 session-opening 3-event paths (user-day
    sessions) — the funnel-discovery counterpart of the fixed-order
    funnel and the Markov transition matrix. Scale shape: the per-session
    rank window keys on (user, day) — high cardinality, never global —
    the rn<=3 filter cuts the stream BEFORE the pivot groupBy (a
    WindowGroupLimit pushes it into the sort), paths pivot via
    conditional max (no collect_list ordering dependence), and the final
    cut is TakeOrderedAndProject with a path tiebreak."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id", F.to_date("ts")).orderBy("ts", "event_id")
    r = ev.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3)
    p = r.groupBy("user_id", F.to_date("ts").alias("d")).agg(
        F.max(F.when(F.col("rn") == 1, F.col("event_type"))).alias("e1"),
        F.max(F.when(F.col("rn") == 2, F.col("event_type"))).alias("e2"),
        F.max(F.when(F.col("rn") == 3, F.col("event_type"))).alias("e3"),
    )
    return (
        p.filter(F.col("e3").isNotNull())
        .groupBy(F.concat_ws(">", "e1", "e2", "e3").alias("path"))
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(10)
    )


@register(
    "time_weighted_average",
    """
    WITH o AS (
      SELECT user_id, value, epoch_us(ts) AS t,
             lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS tn
      FROM events WHERE user_id % 10 = 0
    ),
    terms AS (
      SELECT user_id,
             CAST(floor(value * (tn - t) * 10000 + 0.5) AS BIGINT) AS w4,
             tn - t AS dt
      FROM o WHERE tn IS NOT NULL
    )
    SELECT user_id, round((sum(w4) / 10000.0) / sum(dt), 6) AS twap,
           count(*) AS n_intervals
    FROM terms GROUP BY user_id
    """,
)
def q_time_weighted_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average over an irregular event series (the TWAP /
    sensor-integration semantics a plain avg() gets wrong when samples
    arrive unevenly): each value is held until the next observation and
    weighted by its holding duration. One shuffle by user serves the
    lead window and the aggregation. Durations are exact integer
    microseconds (unix_micros, not float epoch seconds) and each
    value*duration term is snapped to a floor(x*1e4+0.5) integer before
    the SUM, so the aggregate is exact under any addition order."""
    ev = _events(spark, sf_dir).filter(F.col("user_id") % 10 == 0)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
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
    return terms.groupBy("user_id").agg(
        F.round((F.sum("w4") / 10000.0) / F.sum("dt"), 6).alias("twap"),
        F.count(F.lit(1)).alias("n_intervals"),
    )


@register(
    "association_rules",
    """
    WITH io AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
    n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM lineitem),
    supp AS (SELECT l_suppkey, count(*) AS s FROM io GROUP BY l_suppkey),
    pairs AS (
      SELECT a.l_suppkey AS ante, b.l_suppkey AS cons, count(*) AS s_ab
      FROM io a JOIN io b
        ON a.l_orderkey = b.l_orderkey AND a.l_suppkey != b.l_suppkey
      GROUP BY 1, 2 HAVING count(*) >= 5
    )
    SELECT ante, cons, s_ab AS support,
           round(s_ab / sa.s, 6) AS confidence,
           round((n.n_orders * s_ab) / (sa.s * sb.s), 6) AS lift
    FROM pairs
    JOIN supp sa ON pairs.ante = sa.l_suppkey
    JOIN supp sb ON pairs.cons = sb.l_suppkey
    CROSS JOIN n
    ORDER BY round((n.n_orders * s_ab) / (sa.s * sb.s), 6) DESC, ante, cons
    LIMIT 10
    """,
)
def q_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over supplier co-occurrence in
    orders: support / confidence / lift for directed pairs, top-10 by
    lift — the affinity-analysis classic. Scale shape: per-order item
    sets come from ONE collect_set shuffle of the fact table and explode
    into pairs map-side (measured 2x faster than the two-sided self-join
    the oracle uses — see NOTES co-occurrence lesson); a min-support
    HAVING prunes the rule space before the tiny per-item stats
    broadcast in. All ratios are single divisions of exact integer
    products, so both engines produce bit-identical doubles.

    Plan shape (r5): every branch — pairs, per-item support, and the
    n_orders scalar — derives from the SAME collect_set subtree, so
    Spark's ReuseExchange serves all three from one shuffle (the old
    io.distinct pre-pass is redundant: collect_set dedups per order);
    n_orders rides in as a broadcast 1-row cross join instead of a
    separate driver action. Measured 1.8 -> 1.4 s warm at sf0.1; a
    second notch (1.7 -> 1.1 s) from i<j pair generation via
    posexplode + slice — each element pairs only with its array
    SUFFIX, so the pair shuffle halves, and unlike the transform/slice
    lambda form (tried, slower: higher-order lambdas are not
    codegen'd) posexplode+slice stays in whole-stage codegen. The
    undirected counts expand back to both directions after the
    min-support filter, where the table is already tiny."""
    li = _t(spark, sf_dir, "lineitem")
    sets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_suppkey")).alias("items")
    )
    up = (
        sets.select(F.posexplode("items").alias("i", "a"), "items")
        .select("a", F.explode(F.slice("items", F.col("i") + F.lit(2), F.size("items"))).alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("s_ab"))
        .filter(F.col("s_ab") >= 5)
    )
    pairs = up.select(
        F.explode(
            F.array(
                F.struct(F.col("a").alias("ante"), F.col("b").alias("cons"), "s_ab"),
                F.struct(F.col("b").alias("ante"), F.col("a").alias("cons"), "s_ab"),
            )
        ).alias("r")
    ).select("r.*")
    supp = (
        sets.select(F.explode("items").alias("l_suppkey"))
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("s"))
    )
    n = sets.agg(F.count(F.lit(1)).alias("n_orders"))
    sa = supp.select(F.col("l_suppkey").alias("ante"), F.col("s").alias("s_a"))
    sb = supp.select(F.col("l_suppkey").alias("cons"), F.col("s").alias("s_b"))
    lift = F.round(
        (F.col("n_orders") * F.col("s_ab")) / (F.col("s_a") * F.col("s_b")), 6
    )
    return (
        pairs.join(F.broadcast(sa), "ante")
        .join(F.broadcast(sb), "cons")
        .crossJoin(F.broadcast(n))
        .select(
            "ante",
            "cons",
            F.col("s_ab").alias("support"),
            F.round(F.col("s_ab") / F.col("s_a"), 6).alias("confidence"),
            lift.alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "ante", "cons")
        .limit(10)
    )


_GOLDEN_ORACLE = """
    WITH RECURSIVE base AS (
      SELECT c_custkey AS ck, c_name AS name, c_acctbal AS bal
      FROM customer WHERE c_custkey % 97 = 0
    ),
    dirty AS (
      SELECT ck, name, bal FROM base
      UNION ALL
      SELECT ck + 1000000,
             concat(substring(name, 1, (ck % length(name))),
                    substring(name, (ck % length(name)) + 2,
                              length(name))) AS name,
             bal - 50.0 AS bal
      FROM base
    ),
    pairs AS (
      SELECT a.ck AS id_a, b.ck AS id_b
      FROM dirty a JOIN dirty b ON a.ck < b.ck
      WHERE levenshtein(a.name, b.name) <= 1
    ),
    edges AS (SELECT id_a AS s, id_b AS d FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(node, label) AS (
      SELECT DISTINCT s, s FROM edges
      UNION
      SELECT e.d, r.label FROM reach r JOIN edges e ON e.s = r.node
    ),
    labels AS (SELECT node, min(label) AS cid FROM reach GROUP BY node),
    asg AS (
      SELECT k.ck, k.name, k.bal, coalesce(l.cid, k.ck) AS cluster_id
      FROM dirty k LEFT JOIN labels l ON l.node = k.ck
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY cluster_id
                                   ORDER BY bal DESC, ck) AS rn
      FROM asg
    ),
    agg AS (
      SELECT cluster_id, min(ck) AS golden_custkey,
             round(max(bal), 4) AS best_acctbal,
             count(*) AS n_members
      FROM asg GROUP BY cluster_id
    )
    SELECT a.cluster_id, a.golden_custkey, r.name AS canonical_name,
           a.best_acctbal, a.n_members
    FROM agg a JOIN ranked r ON a.cluster_id = r.cluster_id AND r.rn = 1
    WHERE a.n_members >= 2
"""


@register("entity_golden_record", _GOLDEN_ORACLE)
def q_entity_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution: SymSpell deletion-variant blocking +
    levenshtein verify (the fuzzy_name_join machinery) builds match
    edges, distributed connected components closes the non-transitive
    match relation, and a survivorship pass elects one golden record per
    multi-member cluster (canonical name = richest member's, id = min
    key, best balance = max) — the MDM merge-purge pipeline as one
    composed plan. Every stage keeps its scale shape: alphabet-bounded
    variant blocking (no n^2), O(diameter) CC rounds, cluster-keyed
    survivorship window. The dirty input is derived in-query: sparse
    originals (%97 keys — zero-padded synthetic names chain into one
    mega-cluster under denser sampling, since any two keys one digit
    apart are edit-distance 1) plus one planted variant per original
    (one char deleted at a key-derived position, lower balance, shifted
    key), so clusters are genuine merge groups and survivorship
    provably elects the richer original's name. Subsampling also keeps
    the deliberately-naive quadratic oracle cheap (the fuzzy_name_join
    discipline)."""
    from .operators.dedup import connected_components

    base = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 97 == 0)
        .select(
            F.col("c_custkey").alias("ck"),
            F.col("c_name").alias("name"),
            F.col("c_acctbal").alias("bal"),
        )
    )
    variant = base.select(
        (F.col("ck") + 1000000).alias("ck"),
        F.concat(
            F.expr("substring(name, 1, ck % length(name))"),
            F.expr("substring(name, ck % length(name) + 2, length(name))"),
        ).alias("name"),
        (F.col("bal") - F.lit(50.0)).alias("bal"),
    )
    c0 = base.unionByName(variant)
    var = (
        c0.select(
            "ck", "name", F.explode(F.sequence(F.lit(0), F.length("name"))).alias("i")
        )
        .select(
            "ck",
            "name",
            F.when(F.col("i") == 0, F.col("name"))
            .otherwise(
                F.expr(
                    "concat(substring(name, 1, i - 1), substring(name, i + 1, length(name)))"
                )
            )
            .alias("v"),
        )
        .distinct()
    )
    pairs = (
        var.alias("a")
        .join(var.alias("b"), F.col("a.v") == F.col("b.v"))
        .select(
            F.col("a.ck").alias("id_a"),
            F.col("a.name").alias("na"),
            F.col("b.ck").alias("id_b"),
            F.col("b.name").alias("nb"),
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
        .filter(F.levenshtein("na", "nb") <= 1)
        .select("id_a", "id_b")
    )
    cc = connected_components(pairs).withColumnRenamed("node", "ck")
    asg = c0.join(cc, "ck", "left").select(
        "ck",
        "name",
        "bal",
        F.coalesce(F.col("cluster_id"), F.col("ck")).cast("long").alias("cluster_id"),
    )
    w = Window.partitionBy("cluster_id").orderBy(F.col("bal").desc(), "ck")
    canon = (
        asg.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("cluster_id", F.col("name").alias("canonical_name"))
    )
    agg = asg.groupBy("cluster_id").agg(
        F.min("ck").alias("golden_custkey"),
        F.round(F.max("bal"), 4).alias("best_acctbal"),
        F.count(F.lit(1)).alias("n_members"),
    )
    return (
        agg.join(canon, "cluster_id")
        .filter(F.col("n_members") >= 2)
        .select(
            "cluster_id",
            "golden_custkey",
            "canonical_name",
            "best_acctbal",
            "n_members",
        )
    )


@register(
    "k_anonymity_audit",
    """
    SELECT c_nationkey, c_mktsegment, count(*) AS group_size,
           count(*) < 5 AS at_risk
    FROM customer GROUP BY 1, 2
    """,
)
def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier pair (nation, market
    segment): any combination shared by fewer than k=5 records can
    re-identify individuals when joined with outside data — the privacy
    check run before releasing a derived dataset (the structural
    counterpart of pii_redaction's content scrubbing). One map-side-
    combinable groupBy; output is quasi-identifier-domain-sized."""
    c = _t(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("group_size"),
        (F.count(F.lit(1)) < 5).alias("at_risk"),
    )


@register(
    "theil_sen_slope",
    """
    WITH r AS (
      SELECT user_id, value, epoch_us(ts) AS t,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events WHERE user_id % 25 = 0
    ),
    slopes AS (
      SELECT a.user_id,
             (b.value - a.value) / ((b.t - a.t) / 1000000.0) AS slope,
             a.rn AS rn_a, b.rn AS rn_b
      FROM r a JOIN r b
        ON a.user_id = b.user_id
       AND b.rn - a.rn BETWEEN 1 AND 32
      WHERE b.t != a.t
    ),
    ranked AS (
      SELECT user_id, slope,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY slope, rn_a, rn_b) AS k,
             count(*) OVER (PARTITION BY user_id) AS n
      FROM slopes
    )
    SELECT user_id, round(slope, 6) AS slope, n AS n_pairs
    FROM ranked WHERE k = (n + 1) // 2
    """,
)
def q_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-user trend estimation: Theil-Sen slope (median of
    pairwise slopes — 29% breakdown point, vs OLS's zero) over each
    user's value series. Full Theil-Sen is quadratic in series length,
    which grows WITH data scale — the scale-honest form pairs each
    point only with its 32 nearest successors (banded Theil-Sen, the
    standard sampling compromise), so pair volume is linear in events.
    One shuffle by user serves ranking, the banded self-join, and the
    median windows; the median is the deterministic LOWER median picked
    by rank (cross-engine float medians would interpolate two doubles
    nondeterministically)."""
    ev = _events(spark, sf_dir).filter(F.col("user_id") % 25 == 0)
    # ordering by integer micros == ordering by ts (the oracle's key)
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    r = (
        ev.select("user_id", "value", F.unix_micros("ts").alias("t"), "event_id")
        .withColumn("rn", F.row_number().over(w))
        .drop("event_id")
    )
    a, b = r.alias("a"), r.alias("b")
    slopes = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b.rn") - F.col("a.rn")).between(1, 32),
        )
        .filter(F.col("b.t") != F.col("a.t"))
        .select(
            F.col("a.user_id").alias("user_id"),
            (
                (F.col("b.value") - F.col("a.value"))
                / ((F.col("b.t") - F.col("a.t")) / F.lit(1000000.0))
            ).alias("slope"),
            F.col("a.rn").alias("rn_a"),
            F.col("b.rn").alias("rn_b"),
        )
    )
    wm = Window.partitionBy("user_id").orderBy("slope", "rn_a", "rn_b")
    wc = Window.partitionBy("user_id")
    ranked = slopes.withColumn("k", F.row_number().over(wm)).withColumn(
        "n", F.count(F.lit(1)).over(wc)
    )
    return ranked.filter(
        F.col("k") == F.floor((F.col("n") + 1) / 2)
    ).select("user_id", F.round("slope", 6).alias("slope"), F.col("n").alias("n_pairs"))


@register(
    "grouped_ols_trend",
    """
    WITH r AS (
      SELECT user_id,
             epoch_us(ts) // 1000000 AS tsec,
             CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v4
      FROM events WHERE user_id % 25 = 0
    ),
    rel AS (
      SELECT user_id, v4,
             tsec - min(tsec) OVER (PARTITION BY user_id) AS t
      FROM r
    ),
    s AS (
      SELECT user_id, count(*) AS n, sum(t) AS st, sum(v4) AS sv,
             sum(t * t) AS stt, sum(t * v4) AS stv, sum(v4 * v4) AS svv
      FROM rel GROUP BY user_id HAVING count(*) >= 3
    )
    SELECT user_id, n,
           round(CAST(floor(
             (CAST(n AS DOUBLE) * stv - CAST(st AS DOUBLE) * sv)
             / (CAST(n AS DOUBLE) * stt - CAST(st AS DOUBLE) * st)
             / 10000.0 * 1000000 + 0.5) AS BIGINT) / 1000000.0, 6) AS slope,
           round(CAST(floor(
             ((CAST(n AS DOUBLE) * stv - CAST(st AS DOUBLE) * sv)
              * (CAST(n AS DOUBLE) * stv - CAST(st AS DOUBLE) * sv))
             / ((CAST(n AS DOUBLE) * stt - CAST(st AS DOUBLE) * st)
                * (CAST(n AS DOUBLE) * svv - CAST(sv AS DOUBLE) * sv))
             * 1000000 + 0.5) AS BIGINT) / 1000000.0, 6) AS r2
    FROM s
    WHERE (CAST(n AS DOUBLE) * stt - CAST(st AS DOUBLE) * st) != 0
      AND (CAST(n AS DOUBLE) * svv - CAST(sv AS DOUBLE) * sv) != 0
    """,
)
def q_grouped_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group least-squares trend (slope + r^2) from closed-form
    sufficient statistics — the scalable form of grouped regression: ONE
    aggregation computes five EXACT integer sums (timestamps reduced to
    integer seconds via integer division, values snapped to the 1e-4
    grid), so the statistics are immune to float addition order; the
    closed-form combination then runs in double on identical inputs in
    both engines. Complements theil_sen_slope (robust) with the
    classical estimator; r^2 is scale-free so the 1e4 value scaling
    cancels. Per-user time is re-based (t - min t) to keep t^2 sums in
    long range at any corpus age."""
    ev = _events(spark, sf_dir).filter(F.col("user_id") % 25 == 0)
    r = ev.select(
        "user_id",
        # exact integer FLOOR division, not `div`: Spark's div truncates
        # toward zero while the oracle's // floors — they disagree on
        # pre-1970 timestamps (negative epoch micros). Subtracting the
        # nonnegative pmod first makes the operand an exact multiple, so
        # div equals floor with no double-rounding at any epoch
        F.expr(
            "(unix_micros(ts) - pmod(unix_micros(ts), 1000000)) div 1000000"
        ).alias("tsec"),
        F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long").alias("v4"),
    )
    rel = r.withColumn(
        "t", F.col("tsec") - F.min("tsec").over(Window.partitionBy("user_id"))
    )
    s = (
        rel.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("t").alias("st"),
            F.sum("v4").alias("sv"),
            F.sum(F.col("t") * F.col("t")).alias("stt"),
            F.sum(F.col("t") * F.col("v4")).alias("stv"),
            F.sum(F.col("v4") * F.col("v4")).alias("svv"),
        )
        .filter(F.col("n") >= 3)
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("stv") - F.col("st").cast("double") * F.col("sv")
    dent = nd * F.col("stt") - F.col("st").cast("double") * F.col("st")
    denv = nd * F.col("svv") - F.col("sv").cast("double") * F.col("sv")
    slope6 = F.floor(num / dent / 10000.0 * 1000000 + F.lit(0.5)).cast("long")
    r26 = F.floor((num * num) / (dent * denv) * 1000000 + F.lit(0.5)).cast("long")
    return (
        s.filter((dent != 0) & (denv != 0))
        .select(
            "user_id",
            "n",
            F.round(slope6 / 1000000.0, 6).alias("slope"),
            F.round(r26 / 1000000.0, 6).alias("r2"),
        )
    )


@register(
    "winsorize_values",
    """
    WITH q AS (
      SELECT event_type,
             quantile_cont(value, 0.05) AS lo,
             quantile_cont(value, 0.95) AS hi
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, round(e.value, 4) AS value,
           round(least(greatest(e.value, q.lo), q.hi), 4) AS clipped,
           (e.value < q.lo OR e.value > q.hi) AS was_clipped
    FROM events e JOIN q ON e.event_type = q.event_type
    WHERE e.user_id % 50 = 0
    """,
)
def q_winsorize_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization (clip at the per-type p05/p95): the outlier
    treatment that preserves row count, applied before training on
    heavy-tailed metrics. The percentile table is event-type-sized
    (exact grouped percentiles — the mad_outliers discipline; Spark
    percentile and DuckDB quantile_cont share the h=p*(n-1)
    interpolation) and broadcasts back onto the stream; the output
    sample subsets rows AFTER the full-corpus quantile computation, so
    the thresholds are the production ones."""
    ev = _events(spark, sf_dir)
    q = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.05)").alias("lo"),
        F.expr("percentile(value, 0.95)").alias("hi"),
    )
    return (
        ev.filter(F.col("user_id") % 50 == 0)
        .join(F.broadcast(q), "event_type")
        .select(
            "event_id",
            "event_type",
            F.round("value", 4).alias("value"),
            F.round(
                F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi")), 4
            ).alias("clipped"),
            ((F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi"))).alias(
                "was_clipped"
            ),
        )
    )


@register(
    "cusum_changepoint",
    """
    WITH r AS (
      SELECT user_id, event_id, ts,
             CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v4,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS k,
             count(*) OVER (PARTITION BY user_id) AS n,
             CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT))
               OVER (PARTITION BY user_id) AS BIGINT) AS tot4,
             CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run4
      FROM events WHERE user_id % 25 = 0
    ),
    d AS (
      SELECT user_id, k, n, ts, n * run4 - k * tot4 AS dk
      FROM r
    ),
    best AS (
      SELECT user_id, k AS k_star,
             strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_star, dk AS d_star,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY abs(dk) DESC, k) AS rn
      FROM d
    )
    SELECT user_id, k_star, ts_star, d_star FROM best WHERE rn = 1
    """,
)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection per user: the prefix deviation from
    the series mean, D_k = n*prefix_sum - k*total, peaks where the level
    shifts — the offline scan form of the reference's trajectory
    anomaly detection (catlas/bocpp_utils-style change detection),
    relational and exact. Everything is INTEGER arithmetic on the 1e-4
    value grid (n*run - k*tot avoids ever forming the fractional mean),
    so the argmax is deterministic under any execution order; one
    shuffle by user serves the rank, total, prefix and argmax windows."""
    ev = _events(spark, sf_dir).filter(F.col("user_id") % 25 == 0)
    v4 = F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long")
    wp = Window.partitionBy("user_id")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    r = (
        ev.withColumn("v4", v4)
        .withColumn("k", F.row_number().over(wo))
        .withColumn("n", F.count(F.lit(1)).over(wp))
        .withColumn("tot4", F.sum("v4").over(wp))
        .withColumn("run4", F.sum("v4").over(wo.rowsBetween(Window.unboundedPreceding, 0)))
    )
    d = r.withColumn("dk", F.col("n") * F.col("run4") - F.col("k") * F.col("tot4"))
    wbest = Window.partitionBy("user_id").orderBy(F.abs(F.col("dk")).desc(), "k")
    return (
        d.withColumn("rn", F.row_number().over(wbest))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("k").cast("long").alias("k_star"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_star"),
            F.col("dk").alias("d_star"),
        )
    )


@register(
    "funnel_time_to_convert",
    """
    WITH firsts AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_buy
      FROM events GROUP BY user_id
    ),
    conv AS (
      SELECT user_id, CAST(t_view AS DATE) AS cohort_day,
             epoch_us(t_buy) - epoch_us(t_view) AS us_to_convert
      FROM firsts
      WHERE t_view IS NOT NULL AND t_buy IS NOT NULL AND t_buy >= t_view
    )
    SELECT strftime(cohort_day, '%Y-%m-%d') AS day,
           count(*) AS n_converted,
           round(quantile_cont(us_to_convert / 1000000.0, 0.5), 4) AS p50_sec,
           round(quantile_cont(us_to_convert / 1000000.0, 0.9), 4) AS p90_sec
    FROM conv GROUP BY cohort_day
    """,
)
def q_funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency distribution: per first-view cohort day, the
    p50/p90 of time from a user's FIRST view to FIRST purchase — the
    latency half of funnel analysis (funnel_conversion_daily counts who
    converts; this measures how fast). One conditional-min aggregation
    per user (never a self-join of the event stream), then a cohort-day
    grouped exact percentile over integer-microsecond durations; both
    engines share the h=p*(n-1) interpolation."""
    ev = _events(spark, sf_dir)
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_buy"),
    )
    conv = firsts.filter(
        F.col("t_view").isNotNull()
        & F.col("t_buy").isNotNull()
        & (F.col("t_buy") >= F.col("t_view"))
    ).select(
        F.to_date("t_view").alias("cohort_day"),
        ((F.unix_micros("t_buy") - F.unix_micros("t_view")) / F.lit(1000000.0)).alias(
            "sec"
        ),
    )
    return conv.groupBy("cohort_day").agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.round(F.expr("percentile(sec, 0.5)"), 4).alias("p50_sec"),
        F.round(F.expr("percentile(sec, 0.9)"), 4).alias("p90_sec"),
    ).select(
        F.date_format("cohort_day", "yyyy-MM-dd").alias("day"),
        "n_converted",
        "p50_sec",
        "p90_sec",
    )


@register(
    "histogram_2d",
    """
    WITH b AS (
      SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS price_bin,
             CAST(strftime(o_orderdate, '%Y-%m') AS VARCHAR) AS month
      FROM orders
    )
    SELECT month, price_bin, count(*) AS n
    FROM b GROUP BY month, price_bin
    """,
)
def q_histogram_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D equi-width histogram (order month x 50k price bin) — the
    heatmap-export aggregation a dashboard pipeline materializes. Pure
    map-side binning + one combinable groupBy; output is bin-grid-sized
    at any data scale (the 1-D counterpart is value_histogram)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.select(
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
            F.floor(F.col("o_totalprice") / F.lit(50000.0)).cast("long").alias(
                "price_bin"
            ),
        )
        .groupBy("month", "price_bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "graph_degree_distribution",
    """
    WITH edges AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey != b.l_partkey
    ),
    deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
    binned AS (
      SELECT CAST(floor(ln(d) / ln(2)) AS BIGINT) AS log2_bin, d FROM deg
    )
    SELECT log2_bin, count(*) AS n_nodes, min(d) AS min_degree,
           max(d) AS max_degree
    FROM binned GROUP BY log2_bin
    """,
)
def q_graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-binned degree distribution of the part co-purchase graph (the
    graph triangle_count_parts runs on; the supplier graph is
    near-complete and collapses to one bin) — the first diagnostic run
    before any graph algorithm, predicting whether pagerank/triangle
    costs will be hub-dominated. Edge build is the one co-occurrence
    shuffle; the distribution itself is degree-domain-sized.
    ln(d)/ln(2) instead of log2 so both engines evaluate the identical
    expression tree.

    Plan shape (r5): the self-join + distinct + count chain paid three
    exchanges over the full pair table. Instead collect the per-order
    part set (one shuffle, bounded by order size — ~7 lines/order in
    this schema), generate i<j pairs in-row via posexplode + slice
    (each element pairs only with its sorted-array SUFFIX, halving the
    pair volume, all codegen — no HOF lambda), dedup undirected pairs
    once, then count degree over both endpoint roles. Measured
    3.1 -> 1.7 -> 1.3 s warm at sf0.1; scales as long as per-group
    item sets stay bounded (same contract as association_rules)."""
    li = _t(spark, sf_dir, "lineitem")
    items = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("it")
    )
    up = (
        items.select(F.posexplode("it").alias("i", "a"), "it")
        .select(
            "a",
            F.explode(F.slice("it", F.col("i") + F.lit(2), F.size("it"))).alias("b"),
        )
        .groupBy("a", "b")
        .agg(F.lit(1))
    )
    deg = (
        up.select(F.explode(F.array("a", "b")).alias("src"))
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    return (
        deg.select(
            F.floor(F.log(F.col("d").cast("double")) / F.log(F.lit(2.0)))
            .cast("long")
            .alias("log2_bin"),
            "d",
        )
        .groupBy("log2_bin")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("d").alias("min_degree"),
            F.max("d").alias("max_degree"),
        )
    )


@register(
    "streaming_hopping_counts",
    """
    WITH h AS (
      SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR * CAST(i AS INTEGER) AS ws,
             event_type, value
      FROM events, range(0, 2) t(i)
    )
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS bucket, event_type,
           count(*) AS n, round(sum(value), 4) AS total_value
    FROM h GROUP BY 1, 2
    """,
)
def q_streaming_hopping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (overlapping) windows through the REAL readStream path —
    the fifth genuine streaming gate entry (tumbling, session, interval
    join, static enrich are the others). A 2h window sliding 1h puts
    every event in exactly two windows; the batch oracle replays the
    window assignment with a bounded 2-row explode, so the hash match
    proves Spark's sliding window-assignment semantics on a finite
    source."""
    from .streaming.events import hopping_counts, read_event_stream, run_batch_like_stream

    stream = read_event_stream(spark, f"{sf_dir}/events*.parquet")
    out = run_batch_like_stream(
        hopping_counts(stream), "gate_hopping", state_partitions=4
    )
    return out.select(
        F.date_format("bucket_start", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        "event_type",
        "n",
        "total_value",
    )


@register(
    "streaming_dedup_counts",
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_unique
    FROM (
      SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS hr
      FROM events
    )
    GROUP BY event_type
    """,
)
def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication through the REAL readStream path — the
    sixth stateful streaming gate shape (tumbling, session, hopping,
    interval join, static enrich are the others). Events are deduped by
    BUSINESS key (user, type, hour bucket) — the idempotency/throttling
    form, "at most one event per user/type/hour" — with the bucket
    column itself watermarked and in the dedup subset, so Spark evicts
    dedup state as the watermark passes each hour (unbounded-state
    dedup is the classic streaming leak; keying on the event-time
    bucket is what makes it run indefinitely). dropDuplicates keeps an
    arbitrary survivor, so the gated output is survivor-invariant: the
    per-type count of distinct business keys, which the batch oracle
    replays as COUNT over SELECT DISTINCT. On this gate's single
    availableNow pass (all files arrive in one micro-batch, so nothing
    is late) the hash match proves the streaming dedup kept exactly one
    row per key. In a genuine multi-batch run the engines CAN diverge
    by design: a never-seen key arriving beyond the watermark is
    dropped as late by the stream but counted by the batch DISTINCT —
    that late-drop contract is pinned by the multi-batch eviction test
    (test_dedup_stream_business_key_across_batches), not by this
    oracle."""
    from .streaming.events import (
        dedup_stream,
        read_event_stream,
        run_batch_like_stream,
    )

    stream = read_event_stream(spark, f"{sf_dir}/events*.parquet")
    keyed = stream.select(
        "user_id",
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("hr"),
    )
    survivors = dedup_stream(
        keyed, keys=["user_id", "event_type", "hr"], time_col="hr"
    )
    # append mode: dedup has no aggregation — survivors are emitted as
    # they arrive, state only suppresses later duplicates; the trailing
    # no-data batch would only evict that state (rows identical, one
    # less micro-batch)
    out = run_batch_like_stream(
        survivors,
        "gate_dedup",
        output_mode="append",
        state_partitions=4,
        no_data_batches=False,
    )
    return out.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_unique"))


@register(
    "blocklist_filter",
    """
    WITH toks AS (
      SELECT doc_id, source, unnest(string_split({norm}, ' ')) AS term
      FROM documents
    ),
    hits AS (
      SELECT doc_id, source, count(*) AS n_hits
      FROM toks WHERE term IN ('error', 'fatal', 'panic')
      GROUP BY doc_id, source
    )
    SELECT d.source,
           count(*) AS n_docs,
           count(h.doc_id) AS n_flagged,
           round(CAST(count(h.doc_id) AS DOUBLE) / count(*), 4) AS flagged_frac,
           coalesce(CAST(sum(h.n_hits) AS BIGINT), 0) AS total_hits
    FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
    GROUP BY d.source
    """.replace("{norm}", "regexp_replace(lower(regexp_replace(text, '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g')), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')"),
)
def q_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist screening (the C4 badwords-filter shape): per source,
    the fraction of documents containing any blocklisted TOKEN and the
    total hit count — token-boundary matching, not substring (substring
    blocklists famously flag 'class' for 'ass'; the tokenize-then-IN
    form is both correct and pushes the tiny list into a hash lookup).
    The per-doc hit table is filtered before its groupBy; the report is
    source-domain-sized. The list here is a stand-in — swap the IN set
    for the real one."""
    d = _t(spark, sf_dir, "documents")
    norm = _norm_text()
    toks = d.select("doc_id", F.explode(F.split(norm, " ")).alias("term"))
    hits = (
        toks.filter(F.col("term").isin("error", "fatal", "panic"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        d.select("doc_id", "source")
        .join(hits, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("n_hits").alias("n_flagged"),
            F.round(
                F.count("n_hits").cast("double") / F.count(F.lit(1)), 4
            ).alias("flagged_frac"),
            F.coalesce(F.sum("n_hits"), F.lit(0)).alias("total_hits"),
        )
    )
