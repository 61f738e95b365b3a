"""Partitioning & skew utilities (reference §2.14 B1-B6, §4 R7).

The reference hand-manages physical layout: 1-bulk-per-partition so each
skewed enumeration is an independent task (`bag_split_individual_partitions`,
catlas/dask_utils.py:69-118), post-explode repartition
(catlas/prediction_steps.py:245-247), size-balanced repartition
(catlas/dask_utils.py:28-66). On Spark most of this is AQE's job
(skew-join splitting, partition coalescing); what remains worth explicit
helpers:

- ``spread_small_source``: a small parquet file arrives as ONE input
  split; fan it out before an expensive/exploding map (B2's goal — skew
  isolation — without literal 1-row partitions).
- ``salt`` + ``salted_agg``: shard a hot grouping key K ways so one
  giant group doesn't serialize a stage; aggregate per (key, salt) then
  re-aggregate per key (the classic two-phase combine; R7).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .sources.local import local_frame

SALT_COL = "__salt"


def ranked_by_range(
    df: DataFrame,
    sort_cols: list[Column | str],
    cum_cols: tuple[str, ...] = (),
    num_partitions: int | None = None,
    rank_name: str = "rnk",
) -> tuple[DataFrame, dict[str, int]]:
    """Exact global row_number (and optional running sums) WITHOUT the
    single-partition window — ``Window.orderBy`` with no partitionBy
    funnels the whole table through ONE reducer, the classic 100x
    scale-killer (Spark itself warns "No Partition Defined for Window").

    Scale-safe shape (size-balanced repartition, reference B5
    `catlas/dask_utils.py:28-66`, done the Spark way):

    1. ``repartitionByRange`` over the sort key — the range exchange
       samples boundaries so partitions are SIZE-balanced, and rows are
       globally ordered ACROSS partitions;
    2. per-partition counts/sums — a partition-count-sized collect (32
       rows, not data rows) turned into prefix offsets;
    3. per-partition ``row_number``/``sum`` windows (every partition
       sorts in parallel) plus the broadcast offset of all earlier
       partitions = exact global rank / running sum.

    The ranged layout is materialized ONCE (``caching.pin`` —
    localCheckpoint, or a reliable checkpoint when
    ``SPARK_GRAFT_CHECKPOINT_DIR`` is set) and both the offset pass and
    the final pass read it — the range partitioner's boundary sampling
    is seeded per-RDD, so re-executing the exchange can shift rows
    across partitions and corrupt the offsets (observed: ranks off by
    single digits). Ranking inherently materializes a sorted shuffle
    anyway, so this costs nothing extra at scale; the checkpoint blocks
    are freed by the ContextCleaner when the result DataFrame is
    dropped.

    Returns ``(ranked_df, totals)`` where ``ranked_df`` carries
    ``rank_name`` (long, 1-based) and ``cum_<c>`` for each requested
    running sum, and ``totals`` has ``count`` and ``sum_<c>`` grand
    totals (driver-side scalars, free by-products of the offset pass).
    """
    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    cols = [F.col(c) if isinstance(c, str) else c for c in sort_cols]
    from .caching import pin

    parts = pin(
        df.repartitionByRange(n, *cols).withColumn("__pid", F.spark_partition_id())
    )
    aggs = (
        [F.count(F.lit(1)).alias("__cnt")]
        + [F.sum(c).alias(f"__sum_{c}") for c in cum_cols]
        # per-partition NON-NULL counts: the running-sum parity fix
        # below needs to know whether any prior partition contributed a
        # non-null value (a numeric offset of 0 cannot distinguish "no
        # prior values" from "prior values summing to zero")
        + [F.count(F.col(c)).alias(f"__nn_{c}") for c in cum_cols]
    )
    stats = sorted(parts.groupBy("__pid").agg(*aggs).collect(), key=lambda r: r["__pid"])
    offsets: dict[int, list[int]] = {}
    nn_prior: dict[int, list[int]] = {}
    acc = [0] * (1 + len(cum_cols))
    acc_nn = [0] * len(cum_cols)
    for r in stats:
        offsets[r["__pid"]] = list(acc)
        nn_prior[r["__pid"]] = list(acc_nn)
        acc[0] += r["__cnt"]
        for i, c in enumerate(cum_cols):
            acc[1 + i] += r[f"__sum_{c}"] or 0
            acc_nn[i] += r[f"__nn_{c}"]
    totals = {"count": acc[0]}
    for i, c in enumerate(cum_cols):
        totals[f"sum_{c}"] = acc[1 + i]

    def _offset_map(idx: int) -> Column:
        return F.create_map(
            *[F.lit(v) for p, offs in offsets.items() for v in (p, offs[idx])]
        )

    w = Window.partitionBy("__pid").orderBy(*cols)
    out = parts.withColumn(
        rank_name,
        (F.row_number().over(w) + F.coalesce(_offset_map(0)[F.col("__pid")], F.lit(0))).cast(
            "long"
        ),
    )
    def _nn_map(idx: int) -> Column:
        return F.create_map(
            *[F.lit(v) for p, nns in nn_prior.items() for v in (p, nns[idx])]
        )

    for i, c in enumerate(cum_cols):
        frame = w.rowsBetween(Window.unboundedPreceding, 0)
        win_sum = F.sum(c).over(frame)
        # Running-sum parity with the single-reducer Window.orderBy form
        # (r8 review): a partition whose PREFIX is all-NULL has a NULL
        # window sum, and NULL + offset destroyed the carried-in prior
        # partitions' sum. The global cumulative sum is NULL iff NO
        # non-null value precedes the row anywhere — prior-partition
        # non-null counts (driver-known) plus the within-partition
        # running count decide; otherwise the NULL prefix counts as 0.
        seen = F.coalesce(_nn_map(i)[F.col("__pid")], F.lit(0)) + F.count(
            F.col(c)
        ).over(frame)
        out = out.withColumn(
            f"cum_{c}",
            F.when(
                seen > 0,
                F.coalesce(win_sum, F.lit(0))
                + F.coalesce(_offset_map(1 + i)[F.col("__pid")], F.lit(0)),
            ),
        )
    return out.drop("__pid"), totals


# pre-aggregate iff (sketched) distinct values < this fraction of rows:
# duplicate-heavy data shrinks under (group, value) counting, near-unique
# data only pays an extra shuffle. grouped_exact_quantiles' fused probe
# reads it when pre_aggregate is None.
PREAGG_DISTINCT_FRACTION = 0.5


def plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate for a plan (file-size based for scans,
    propagated through projections/filters/unions). Zero jobs. Returns
    a huge sentinel on failure so callers dispatch to the scale-safe
    regime.

    CAVEAT: frames over a Python RDD (``createDataFrame`` of a list or
    an RDD) report Long.MaxValue here, so ``form='auto'`` dispatchers
    (minhash_signatures' MINHASH_INROW_MIN_BYTES, the quantile
    direct-regime threshold) always choose the scale-safe slower regime
    for them — value-correct, but callers with such inputs should force
    the form explicitly to keep the fast path. A ``local_frame``
    LocalRelation and ``spark.range`` report their real size."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return 1 << 62


def grouped_exact_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    probs: list[float],
    num_partitions: int | None = None,
    pre_aggregate: bool | None = None,
    extremes: bool = False,
    value_bounds: tuple[float, float] | None = None,
    direct_max_bytes: int = 64 << 20,
) -> DataFrame:
    """EXACT interpolated quantiles (quantile_cont semantics: value at
    position p*(n-1) with linear interpolation) per group, WITHOUT
    collecting any group's values into one aggregation buffer.

    Spark's ``percentile`` is exact but its final merge materializes the
    whole group's value multiset on a single reducer — fine at sf0.1,
    a memory cliff at 100x. The scale-safe shape (r5 revision):

    1. ONE probe pass fuses the bucket-boundary sketch
       (``percentile_approx`` at num_partitions quantiles) with the
       distinct-ratio pre-aggregate dispatch — boundary literals come
       back to the driver, so bucket assignment becomes a PURE FUNCTION
       of the value (a chained ``value >= bound`` sum in codegen).
       Deterministic-by-construction partitioning replaces the old
       ``repartitionByRange + localCheckpoint`` (the range sampler is
       per-RDD-seeded, which forced a full materialization job to pin
       row placement; a value-derived bucket id needs no pinning — any
       recompute lands every row in the same bucket).
    2. per-(bucket, group) count/min/max stats — map-side combinable,
       bucket-count x group-count driver collect, prefix offsets =
       exact global rank intervals per cell.
    3. covering-cell pruning: only cells whose rank interval contains a
       target rank (floor/ceil of p*(n-1)) survive — and because the
       bucket id is computed map-side, the FILTER RUNS BEFORE THE ONLY
       DATA SHUFFLE (the per-cell window sort). With k probs x g groups
       just O(k*g) of the n_parts*g cells ship; at 100 TB the shuffle
       moves the covering cells only, not the table.
    4. per-cell running counts + offsets locate the interpolation
       endpoints; the covering values interpolate.

    Approximation in the boundary sketch affects only bucket BALANCE
    (a skewed sketch makes one bucket fatter); every count, rank, and
    value is exact. Jobs: probe, stats, final — down from probe +
    range-sample + checkpoint + stats + final (measured 2.3 -> ~1.4 s
    at sf0.1 on exact_quantiles).

    Returns (group_col, prob, quantile) — one row per group x prob;
    with ``extremes=True`` also (group_min, group_max), computed for
    free from the same per-cell stats collect (no extra scan).

    ``pre_aggregate``: True reduces to (group, value) counts first —
    the right call when values repeat; False keeps raw rows with
    per-row count 1 — when the value column is near-unique (continuous
    prices) the groupBy reduces nothing and its shuffle is pure
    overhead. Default None decides from the probe's distinct/total
    ratio (< 0.5 -> True). The same data can sit in either regime at
    different scales (an amplified corpus turns near-unique prices into
    100x-duplicated ones), so the dispatch must be per-call, not
    hard-coded.

    ``value_bounds``: planning-time (min, max) of the value column —
    parquet footer statistics (``sources.stats.parquet_column_bounds``),
    a catalog, or caller knowledge. When given, bucket boundaries are
    EQUAL-WIDTH points between the bounds and the probe pass drops its
    percentile sketch (the KLL build was most of the probe's cost; with
    an explicit ``pre_aggregate`` the probe job disappears entirely).
    Same exactness contract as the sketch: boundaries affect only
    bucket BALANCE — equal-width binning under heavy value skew piles
    rows into few cells, so callers with pathologically skewed values
    should omit ``value_bounds`` and keep the equi-depth sketch.
    Conservative bounds (footer min/max wider than post-filter data)
    are fine for the same reason.
    """
    import math
    from collections import defaultdict

    spark = df.sparkSession
    # small-input regime (r10, the minhash/CC dispatch discipline):
    # below ``direct_max_bytes`` of Catalyst-estimated input, Spark's
    # built-in exact ``percentile`` is value-identical (same linear
    # interpolation at p*(n-1)) and its single-buffer-per-group merge is
    # SAFE — the whole table fits one executor's memory, so the memory
    # cliff the ranks plan exists for cannot occur, and the one-probe +
    # stats + final job chain is pure overhead (measured 1.7 -> ~0.6 s
    # on exact_quantiles at sf0.1). 0 disables (the regime-gate forcing
    # kwarg); estimate failure returns a huge sentinel, landing in the
    # scale-safe ranks plan.
    if direct_max_bytes and plan_size_bytes(df) < direct_max_bytes:
        aggs = [
            F.percentile(value_col, F.array(*[F.lit(p) for p in probs])).alias("__qs")
        ]
        if extremes:
            aggs += [
                F.min(value_col).alias("group_min"),
                F.max(value_col).alias("group_max"),
            ]
        direct = df.groupBy(group_col).agg(*aggs)
        zipped = F.explode(
            F.arrays_zip(
                F.array(*[F.lit(float(p)) for p in probs]).alias("prob"),
                F.col("__qs").alias("quantile"),
            )
        )
        extra = ["group_min", "group_max"] if extremes else []
        return direct.select(group_col, zipped.alias("__z"), *extra).select(
            group_col,
            F.col("__z.prob").alias("prob"),
            F.col("__z.quantile").alias("quantile"),
            *extra,
        )
    n_parts = num_partitions or spark.sparkContext.defaultParallelism

    # single probe pass: bucket boundaries + distinct ratio + row count.
    # n_parts == 1 means no interior boundaries — percentile_approx with
    # an empty percentage list builds an array<void> literal that fails
    # analysis, so the probe skips the sketch and every group lands in
    # one covering cell (the count/distinct probe still runs when the
    # regime dispatch needs it).
    probe_qs = [i / n_parts for i in range(1, n_parts)]
    need_sketch = bool(probe_qs) and value_bounds is None
    probe = None
    if need_sketch or pre_aggregate is None:
        # probe job: the boundary sketch (only when no planning-time
        # bounds exist — the KLL build was most of this job's cost)
        # plus the dispatch aggregates. Fusing the dispatch into the
        # stats job via ROLLUP/GROUPING SETS was measured SLOWER than
        # this extra job (0.64 s vs 0.49 s probe+stats at sf0.1): the
        # Expand duplicates every row through the HLL update, which
        # costs more than one job's scheduling floor. Keep two jobs.
        probe_aggs = []
        if pre_aggregate is None:
            # dispatch aggregates only when the dispatch will read them —
            # an explicit pre_aggregate with a sketch-only probe skips
            # the per-row HLL update over the whole scan
            probe_aggs += [
                F.approx_count_distinct(value_col).alias("__nd"),
                F.count(F.lit(1)).alias("__n"),
            ]
        if need_sketch:
            probe_aggs.append(
                F.percentile_approx(
                    F.col(value_col).cast("double"), probe_qs, 10_000
                ).alias("__bounds")
            )
        probe = df.agg(*probe_aggs).first()
        if pre_aggregate is None:
            pre_aggregate = (
                bool(probe["__n"])
                and probe["__nd"] < PREAGG_DISTINCT_FRACTION * probe["__n"]
            )
    if value_bounds is not None and probe_qs:
        v_lo, v_hi = float(value_bounds[0]), float(value_bounds[1])
        bounds = sorted({v_lo + (v_hi - v_lo) * q for q in probe_qs})
    else:
        bounds = sorted(
            {b for b in ((probe["__bounds"] if need_sketch else None) or []) if b is not None}
        )

    # bucket id = #boundaries <= value: deterministic, codegen-friendly,
    # ordered by value (NULLs sort first, matching window NULLS FIRST)
    b_expr: Column = F.lit(0)
    for b in bounds:
        b_expr = b_expr + (F.col(value_col).cast("double") >= F.lit(b)).cast("int")
    pid_expr = F.when(F.col(value_col).isNull(), F.lit(-1)).otherwise(b_expr)

    stat_aggs = [F.sum("__cnt").alias("__c")]
    if extremes:
        stat_aggs += [F.min(value_col).alias("__mn"), F.max(value_col).alias("__mx")]

    if pre_aggregate:
        g = df.groupBy(group_col, value_col).agg(F.count(F.lit(1)).alias("__cnt"))
    else:
        g = df.select(group_col, value_col).withColumn(
            "__cnt", F.lit(1).cast("long")
        )
    g = g.withColumn("__pid", pid_expr)

    # g feeds TWO actions — the per-cell stats collect below and the
    # final windowed pass — and unpersisted each re-executes the full
    # table scan + pre-aggregation (at 60M rows that second scan was
    # ~1/3 of the operator's wall time). In the pre-aggregated regime g
    # is value-vocabulary-sized (bounded: the probe measured distinct <<
    # rows), so cache it across the two passes; in the raw-row regime g
    # is TABLE-sized and caching it at 100 TB would be the bug, so the
    # two scans are the honest cost there. Released on return via the
    # materialize-and-release discipline (the output is groups x probs).
    g_cached = None
    if pre_aggregate:
        from .caching import maybe_persist

        g = maybe_persist(g)
        g_cached = g  # the frame actually persisted — `g` is rebound by
        # the pruning join below, so releasing `g` there would unpersist
        # the never-persisted joined frame and leak this cache entry
    stats = g.groupBy("__pid", group_col).agg(*stat_aggs).collect()
    acc: dict = defaultdict(int)
    offsets: dict = {}  # (pid, group value) -> global rank offset; driver-only
    ext: dict = {}
    for r in sorted(stats, key=lambda r: (str(r[group_col]), r["__pid"])):
        if r["__pid"] == -1:
            # NULL values are IGNORED, per percentile/quantile_cont
            # semantics (r8 review): counting the NULL cell into the
            # group total shifted every rank position (a [NULL,1,2,3]
            # group returned 1.5 for p50 where percentile says 2.0),
            # and an all-NULL group's (None, None) extremes crashed the
            # float() below. Skipping the cell here excludes NULLs from
            # counts/offsets/extremes, and an all-NULL group never
            # enters acc — it emits no rows, like a group absent from
            # the input.
            continue
        offsets[(r["__pid"], r[group_col])] = acc[r[group_col]]
        acc[r[group_col]] += r["__c"]
        if extremes:
            mn, mx = ext.get(r[group_col], (None, None))
            ext[r[group_col]] = (
                r["__mn"] if mn is None else min(mn, r["__mn"]),
                r["__mx"] if mx is None else max(mx, r["__mx"]),
            )

    targets = []
    ranks: dict = defaultdict(set)
    for grp, ntot in acc.items():
        for p in probs:
            pos = p * (ntot - 1)
            lo_r, hi_r = int(math.floor(pos)) + 1, int(math.ceil(pos)) + 1
            ranks[grp].update((lo_r, hi_r))
            row = (grp, float(p), lo_r, hi_r, pos - math.floor(pos))
            if extremes:
                row += (float(ext[grp][0]), float(ext[grp][1]))
            targets.append(row)

    # covering-cell pruning (see step 3 above), shipped as a broadcast
    # (pid, group, offset) table joined NULL-SAFELY. Never string keys:
    # concat_ws silently drops NULL group values and renders booleans as
    # 'true'/'false' vs Python's 'None'/'True', so a string-keyed filter
    # deletes those groups' rows entirely. Carrying the offset on the
    # same join also replaces the old string-keyed offset map.
    gtype = df.schema[group_col].dataType
    hit_rows = []
    for r in stats:
        if r["__pid"] == -1:
            continue  # NULL-value cells carry no rank positions (above)
        off = offsets[(r["__pid"], r[group_col])]
        if any(off < t <= off + r["__c"] for t in ranks[r[group_col]]):
            hit_rows.append((int(r["__pid"]), r[group_col], int(off)))
    hits = local_frame(
        spark,
        hit_rows,
        T.StructType(
            [
                T.StructField("__hpid", T.IntegerType()),
                T.StructField("__hgrp", gtype),
                T.StructField("__off", T.LongType()),
            ]
        ),
    )
    g = g.join(
        F.broadcast(hits),
        (F.col("__pid") == F.col("__hpid"))
        & F.col(group_col).eqNullSafe(F.col("__hgrp")),
    ).drop("__hpid", "__hgrp")
    # Right-size the window exchange to the COVERING CELLS (driver-known
    # from the pruning above — the CC right_size principle applied
    # per-plan): the per-cell window otherwise inherits the session
    # shuffle width, and AQE's parallelismFirst keeps those ~n_cells of
    # real work spread over 32 mostly-empty tasks. The explicit hash
    # repartition on the window keys satisfies the window's required
    # distribution, so no second exchange appears; never raised above
    # the session setting, so wide plans keep their parallelism.
    try:
        sess_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        sess_parts = spark.sparkContext.defaultParallelism
    win_parts = max(1, min(sess_parts, len(hit_rows)))
    g = g.repartition(win_parts, "__pid", group_col)

    tschema = T.StructType(
        [
            T.StructField("__tgrp", gtype),
            T.StructField("prob", T.DoubleType()),
            T.StructField("__lo", T.LongType()),
            T.StructField("__hi", T.LongType()),
            T.StructField("__frac", T.DoubleType()),
        ]
        + (
            [
                T.StructField("group_min", T.DoubleType()),
                T.StructField("group_max", T.DoubleType()),
            ]
            if extremes
            else []
        )
    )
    tdf = local_frame(spark, targets, tschema)

    w = Window.partitionBy("__pid", group_col).orderBy(value_col)
    cum = g.withColumn(
        "__cum",
        F.sum("__cnt").over(w.rowsBetween(Window.unboundedPreceding, 0))
        + F.col("__off"),
    )
    j = cum.join(
        F.broadcast(tdf), F.col(group_col).eqNullSafe(F.col("__tgrp"))
    ).drop("__tgrp")
    lo_hits = (F.col("__cum") - F.col("__cnt") < F.col("__lo")) & (
        F.col("__lo") <= F.col("__cum")
    )
    hi_hits = (F.col("__cum") - F.col("__cnt") < F.col("__hi")) & (
        F.col("__hi") <= F.col("__cum")
    )
    extra = ["group_min", "group_max"] if extremes else []
    out = (
        j.filter(lo_hits | hi_hits)
        .groupBy(group_col, "prob", "__frac", *extra)
        .agg(
            F.min(F.when(lo_hits, F.col(value_col))).alias("__vlo"),
            F.min(F.when(hi_hits, F.col(value_col))).alias("__vhi"),
        )
        .select(
            group_col,
            "prob",
            (F.col("__vlo") + F.col("__frac") * (F.col("__vhi") - F.col("__vlo"))).alias(
                "quantile"
            ),
            *extra,
        )
    )
    if g_cached is not None:
        from .caching import materialize_and_release

        out = materialize_and_release(out, g_cached)
    return out

def spread_small_source(df: DataFrame, multiplier: int = 1) -> DataFrame:
    """Round-robin a small/single-split source across the cluster before
    a fan-out or expensive map stage."""
    n = df.sparkSession.sparkContext.defaultParallelism * multiplier
    return df.repartition(n)


def salt(df: DataFrame, n_salts: int) -> DataFrame:
    """Add a deterministic salt shard in [0, n_salts) derived from the
    full row hash — splits hot groups without randomness (reruns get the
    same shards).

    The basis is deliberately the WHOLE row, never the group/join key:
    a salt hashed from the key alone is constant within a key, so the
    hot key would land in one shard and the salting would be a no-op
    (the r8 review found the old ``*cols`` parameter silently ignored —
    it is gone because honoring it would be that bug). Map-typed
    columns are excluded from the hash basis (Spark disallows hashing
    MapType); a row of ONLY map columns cannot be salted
    deterministically and raises."""
    basis = [
        F.col(f.name)
        for f in df.schema.fields
        if not isinstance(f.dataType, T.MapType)
    ]
    if not basis:
        raise ValueError(
            "salt: every column is map-typed — no hashable basis for a "
            "deterministic shard; add a hashable column first"
        )
    return df.withColumn(SALT_COL, F.pmod(F.xxhash64(*basis), F.lit(n_salts)))


def salted_agg(
    df: DataFrame,
    group_cols: list[str],
    n_salts: int,
    partial_aggs: list[Column],
    final_aggs: list[Column],
) -> DataFrame:
    """Two-phase aggregation over a skewed key: groupBy(key, salt) with
    ``partial_aggs``, then groupBy(key) with ``final_aggs`` over the
    partials. The first shuffle spreads the hot key across n_salts
    reducers; the second is tiny."""
    salted = salt(df, n_salts)
    partial = salted.groupBy(*group_cols, SALT_COL).agg(*partial_aggs)
    return partial.groupBy(*group_cols).agg(*final_aggs)


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    n_salts: int,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant shuffle join: the fact side gets a deterministic
    salt shard, the dim side is replicated once per shard, and the join
    key becomes (key, salt) — a hot fact key is spread across
    ``n_salts`` reducers instead of serializing one. Use when the dim
    side is too large to broadcast but cheap to replicate n_salts times
    (AQE skew-join handles the common case at runtime; this is the
    explicit form for pre-AQE planning or deliberate shard control).
    The replicated dim rows are identical per shard, so the join result
    is exactly the plain join's.

    Physical strategy: shuffle_hash, not sort-merge — the contract
    already says the dim side is cheap to replicate, so its per-shard
    partition always fits a hash map, and skipping the fact-side sort
    is pure win (measured ~10% at sf0.1; the gap grows with fact
    width since sort-merge sorts whole rows)."""
    if how not in ("inner", "left", "left_outer", "leftouter",
                   "left_semi", "leftsemi", "semi",
                   "left_anti", "leftanti", "anti"):
        # right/full outer would emit an unmatched DIM row once per salt
        # shard (the dim side is replicated n_salts times) — the same
        # replicated-side-outer hazard point_in_interval_join guards;
        # a dim-preserving outer needs post-join dedup on a dim row id,
        # which this operator does not require of callers
        raise ValueError(
            f"salted_join supports inner and left-side joins, not {how!r}"
        )
    salted_fact = salt(fact, n_salts)
    replicated_dim = dim.withColumn(
        SALT_COL,
        F.explode(F.sequence(F.lit(0).cast("long"), F.lit(n_salts - 1).cast("long"))),
    )
    cond = (salted_fact[fact_key] == replicated_dim[dim_key]) & (
        salted_fact[SALT_COL] == replicated_dim[SALT_COL]
    )
    return (
        salted_fact.join(replicated_dim.hint("shuffle_hash"), cond, how)
        .drop(SALT_COL)
    )
