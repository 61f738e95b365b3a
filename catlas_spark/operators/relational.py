"""Core grouped/window operators of the screening engine.

These are the Spark-first re-expressions of the reference's
group-shaped filters (SURVEY.md §2.4, §2.8):

- grouped top-k by computed score        (F16, `catlas/filter_utils.py:568-620`)
- group-min relative-threshold retention (F17, `catlas/filter_utils.py:623-679`)
- group-EXISTS propagated to all rows    (F18/F19, `catlas/filters.py:266-348`)
- grouped min + argmin                   (A3, `catlas/adslab_predictions.py:324-337`)
- soft-delete gating of expensive UDFs   (F20, `catlas/adslab_predictions.py:275-282`)

The reference computes these per-partition with hand-rolled dicts and
numpy argpartition/argsort, correct only because its partitioning is
aligned with the grouping key (1 bulk per partition). Here they are
global window/groupBy operators: Spark shuffles on the group key, AQE
handles skewed groups, and correctness no longer depends on physical
layout.

Scale notes: all of these are single-shuffle operators (one exchange on
the partition key). The window variants avoid a join; the group-EXISTS
marker keeps rows in place (no second shuffle to re-attach a group
verdict).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def grouped_topk(
    df: DataFrame,
    group_cols: Sequence[str],
    order_by: Sequence[Column],
    k: int,
    keep_rank: bool = False,
) -> DataFrame:
    """Keep the k best rows per group (reference F16 `filter_by_broken_bonds`).

    ``order_by`` must be a deterministic total order (include tiebreak
    columns) or results are unstable across runs/engines.
    """
    w = Window.partitionBy(*group_cols).orderBy(*order_by)
    out = df.withColumn("__rank", F.row_number().over(w)).filter(F.col("__rank") <= k)
    if keep_rank:
        return out.withColumnRenamed("__rank", "rank")
    return out.drop("__rank")


def grouped_top_proportion(
    df: DataFrame,
    group_cols: Sequence[str],
    order_by: Sequence[Column],
    proportion: float,
) -> DataFrame:
    """Keep ceil(p * n) best rows per group (F16 `top_proportion` variant,
    `catlas/filter_utils.py:595-605`)."""
    w = Window.partitionBy(*group_cols).orderBy(*order_by)
    wall = Window.partitionBy(*group_cols)
    return (
        df.withColumn("__rank", F.row_number().over(w))
        .withColumn("__n", F.count(F.lit(1)).over(wall))
        .filter(F.col("__rank") <= F.ceil(F.col("__n") * F.lit(proportion)))
        .drop("__rank", "__n")
    )


def best_within_relative_threshold(
    df: DataFrame,
    group_cols: Sequence[str],
    score: Column,
    threshold: float = 0.1,
) -> DataFrame:
    """Keep rows whose score is within ``threshold`` (relative) of the
    group minimum (reference F17 `filter_best_facet_by_surface_property`,
    `catlas/filter_utils.py:654-678`: keep while (s - min) <= t * min).

    Exact reference semantics, including the negative-minimum edge: when
    the group min is negative the bound ``t * min`` is below zero and no
    row (not even the minimum itself) passes — the reference's sorted
    retention loop breaks on its first element in that case. Surface
    scores are non-negative in practice, but we reproduce the formula
    rather than "fixing" it with abs().
    """
    w = Window.partitionBy(*group_cols)
    min_s = F.min(score).over(w)
    return (
        df.withColumn("__min_s", min_s)
        .filter((score - F.col("__min_s")) <= F.col("__min_s") * F.lit(threshold))
        .drop("__min_s")
    )


def group_exists_mark(
    df: DataFrame,
    group_cols: Sequence[str],
    predicate: Column,
    reason: str,
    reason_col: str = "filter_reason",
) -> DataFrame:
    """Group-level EXISTS propagated to every row (reference F18/F19,
    `catlas/filters.py:298-324`): if NO row in the group satisfies
    ``predicate``, soft-delete the whole group by setting ``reason_col``
    on all its rows; rows in passing groups keep their existing marker.

    Soft delete (not drop) is a core reference semantic: marked rows
    stay in lineage counts and final outputs but skip expensive
    downstream compute (see :func:`soft_delete_gate`).
    """
    w = Window.partitionBy(*group_cols)
    exists = F.max(F.when(predicate, F.lit(1)).otherwise(F.lit(0))).over(w)
    existing = F.col(reason_col) if reason_col in df.columns else F.lit(None).cast("string")
    return df.withColumn(
        reason_col,
        F.when(exists == 0, F.coalesce(existing, F.lit(reason))).otherwise(existing),
    )


def soft_delete_gate(df: DataFrame, expensive: Column) -> Column:
    """Evaluate ``expensive`` only on live rows; NULL on soft-deleted ones
    (reference F20, `catlas/adslab_predictions.py:275-282`)."""
    return F.when(F.col("filter_reason").isNull(), expensive).otherwise(F.lit(None))


def grouped_min_argmin(
    df: DataFrame,
    group_cols: Sequence[str],
    value: Column,
    tiebreaks: Sequence[Column] = (),
) -> DataFrame:
    """One row per group: the row achieving the minimum ``value``
    (reference A3 grouped min + argmin on energy arrays,
    `catlas/adslab_predictions.py:324-337`).

    Implemented as ``min_by(row, struct(value, tiebreaks...))`` —
    struct ordering is lexicographic (NULLS FIRST per field, matching
    an ascending sort), so ties resolve deterministically via
    ``tiebreaks`` exactly as the window-rank form did, but the plan is
    a HASH AGGREGATE: map-side combinable (each partition keeps one
    candidate per group before the shuffle) instead of a full
    shuffle-and-sort of every row through a window. At 100 TB the
    shuffle volume drops from table-sized to group-count-sized. The
    payload row rides in min_by's value slot, so non-comparable column
    types (maps) are fine anywhere outside the ordering key.

    Ordering contract: ``value``/``tiebreaks`` must be plain (ascending,
    NULLS FIRST) expressions — a struct field cannot carry a sort
    direction. A SortOrder tiebreak (``.desc()``, ``.asc_nulls_last()``)
    is detected and routed to the equivalent window-rank form, which
    honors it (at the table-sized-shuffle price the aggregate form
    avoids).
    """
    row_cols = df.columns
    if any(_is_sort_order(c) for c in (value, *tiebreaks)):
        w = Window.partitionBy(*group_cols).orderBy(value, *tiebreaks)
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    key = F.struct(
        value.alias("__v"),
        *[t.alias(f"__t{i}") for i, t in enumerate(tiebreaks)],
    )
    row = F.struct(*[F.col(c) for c in row_cols])
    return (
        df.groupBy(*group_cols)
        .agg(F.min_by(row, key).alias("__m"))
        .select(*[F.col(f"__m.{c}").alias(c) for c in row_cols])
    )


def _is_sort_order(c: Column) -> bool:
    """True when ``c`` is a SortOrder expression (``.desc()`` etc.) —
    placing one inside ``F.struct`` fails analysis or misorders, so
    callers route such keys to the window form instead."""
    # Structural check first (classic mode): Spark 4's JVM Column wraps
    # a ColumnNode, and ``_jc.node()`` is org.apache.spark.sql.internal
    # .SortOrder exactly when the key carries a sort direction. The
    # repr heuristic alone was the ADVICE r6 hazard: a repr-format
    # change (Spark minor, Connect) would silently return False and
    # misroute a ``.desc()`` key into the struct-min aggregate, which
    # MISORDERS results instead of failing loudly.
    try:
        name = c._jc.node().getClass().getName()
        if name.endswith(".SortOrder"):
            return True
        # a structural NON-match still falls through to the repr
        # heuristic (ADVICE r7): if a future Spark renames/wraps the
        # internal node class while _jc.node() keeps resolving, an
        # early False here would silently misroute a .desc() key into
        # the struct-min aggregate — the exact misordering this
        # function exists to prevent
    except Exception:
        pass
    # Connect / no-JVM fallback: SortOrder always renders with an
    # explicit null ordering (Column<'x DESC NULLS LAST'>), which no
    # plain expression repr ends with. test_relational pins this
    # heuristic against the running Spark version.
    s = str(c)
    return s.endswith("NULLS LAST'>") or s.endswith("NULLS FIRST'>")


def point_in_interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    start_col: str,
    end_col: str,
    bucket: str = "hour",
    how: str = "inner",
) -> DataFrame:
    """Point-in-interval (range) join without a cartesian product.

    A naive ``points JOIN intervals ON p BETWEEN s AND e`` has no equi
    key, so Spark plans BroadcastNestedLoopJoin — O(|points| x
    |intervals|) comparisons, which dies when the interval side outgrows
    a broadcast. The scale path is *bucket expansion*: each interval is
    exploded into the fixed-width time buckets it covers, each point is
    assigned its bucket, and the join becomes a plain equi shuffle/
    broadcast hash join on the bucket, post-filtered by the exact range
    predicate. Cost is O(points + intervals x avg_span/bucket), and the
    equi key keeps AQE/skew handling applicable. Intervals may overlap —
    a point can match many intervals.

    ``end_col`` is exclusive. ``bucket`` is a date_trunc unit ("minute",
    "hour", "day"): pick it near the median interval span — too fine
    explodes the interval side, too coarse inflates the candidate set
    the post-filter must discard.
    """
    # EMPTY intervals (end <= start under the exclusive-end contract —
    # zero-length rows, or inverted dirty data) match nothing by
    # definition, but fed to sequence() they produce a positive-step
    # range with start > stop, which is a RUNTIME ERROR that kills the
    # whole job (r8 review). Filter them out up front; for left-side
    # joins the points still emit their unmatched NULL rows.
    iv = intervals.filter(F.col(end_col) > F.col(start_col)).withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.date_trunc(bucket, F.col(start_col)),
                # end is exclusive: a point-free tail bucket is dropped
                F.date_trunc(
                    bucket, F.col(end_col) - F.expr("INTERVAL 1 MICROSECOND")
                ),
                F.expr(f"INTERVAL 1 {bucket}"),
            )
        ),
    )
    pts = points.withColumn("__bucket", F.date_trunc(bucket, F.col(point_col)))
    if how == "inner":
        return (
            pts.join(iv, "__bucket", how)
            .filter(
                (F.col(point_col) >= F.col(start_col))
                & (F.col(point_col) < F.col(end_col))
            )
            .drop("__bucket")
        )
    if how not in ("left", "left_outer", "leftouter", "left_semi", "leftsemi",
                   "left_anti", "leftanti", "semi", "anti"):
        # right/full outer would emit an unmatched INTERVAL once per
        # expansion bucket (the interval side is exploded) — an
        # interval-preserving outer needs a post-join dedup keyed on an
        # interval id, which this operator does not require of callers
        raise ValueError(
            f"point_in_interval_join supports inner and left-side joins, not {how!r}"
        )
    # left-side joins: the exact range predicate must live INSIDE the
    # join condition — post-filtering evaluates NULL on unmatched rows
    # and silently degrades the outer join to inner
    cond = (
        (pts["__bucket"] == iv["__bucket"])
        & (pts[point_col] >= iv[start_col])
        & (pts[point_col] < iv[end_col])
    )
    out = pts.join(iv, cond, how)
    if how in ("left_semi", "leftsemi", "semi", "left_anti", "leftanti", "anti"):
        return out.drop("__bucket")
    return out.drop(iv["__bucket"]).drop(pts["__bucket"])


def set_containment_join(
    left: DataFrame,
    left_id: str,
    left_arr: str,
    right: DataFrame,
    right_id: str,
    right_arr: str,
) -> DataFrame:
    """Set-containment join on array columns: (left_id, right_id) pairs
    where every element of ``left_arr`` appears in ``right_arr``.

    NOT an array_contains cross join (quadratic in rows, re-scans the
    right array per pair): both sides are exploded into an inverted
    index and equi-joined on the ELEMENT, so work is
    sum over elements of |left rows with el| x |right rows with el| —
    sparse-data cost, one shuffle on the element key, AQE-splittable if
    one element is hot. A pair is contained iff its matched-element
    count equals the left set's size. Arrays must be sets (build with
    collect_set / array_distinct).

    Length filter (the PPJoin-style pruning rule): a right set smaller
    than the left set can never contain it, so ``n_right >= n_left`` is
    applied inside the postings join — pairs violating it never reach
    the aggregation. At 100x corpus scale this is the difference between
    aggregating every co-occurrence and only the plausible ones.

    Output: (left_id, right_id, n_left) with n_left = |left set|.

    EMPTY left sets emit NO rows — here and in every postings-level
    strategy (``_postings``/``_bitmap``/``_prefix``): an empty set
    carries no postings, so the id never enters the element join. The
    vacuous-truth semantics (∅ ⊆ every right set → |right| pairs per
    empty left id) would be an OUTPUT BLOWUP, not a fix; callers who
    need empty-set rows should union them in explicitly (r8 review —
    documenting the contract all four strategies already share).
    """
    l = left.select(
        left_id,
        F.size(left_arr).alias("n_left"),
        F.explode(left_arr).alias("_el"),
    )
    r = right.select(
        right_id,
        F.size(right_arr).alias("__n_right"),
        F.explode(right_arr).alias("_el"),
    )
    return (
        l.join(r, "_el")
        .filter(F.col("__n_right") >= F.col("n_left"))
        .groupBy(left_id, right_id, "n_left")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") == F.col("n_left"))
        .select(left_id, right_id, "n_left")
    )


def set_containment_join_postings(
    left_post: DataFrame,
    left_id: str,
    right_post: DataFrame,
    right_id: str,
    el: str = "_el",
) -> DataFrame:
    """Postings-level entry point for :func:`set_containment_join` — for
    callers whose sets already exist as (id, element) rows (the common
    relational case: "distinct parts per order"). Feeding postings
    straight in skips the collect_set → explode round trip that the
    array API would force: no array materialization, no per-row explode,
    both aggregations stay map-side-combinable hash aggs.

    Inputs MUST be distinct postings (one row per (id, element) pair —
    build with ``.distinct()``); duplicate postings inflate n_shared and
    break the count-equality containment test.

    Plan: |left set| per id (hash agg), element equi-join of the two
    postings lists, shared-count per (left_id, right_id) pair, then a
    join back to the size table and the count == size containment test.
    One shuffle per aggregation + the element-keyed join — the same
    shape a columnar engine picks for this query. The PPJoin length
    filter of the array API is intentionally absent here: applying it
    would need right-side sizes joined onto the postings (an extra
    shuffle) before the pruning pays — worth it only when |pairs| vastly
    exceeds |contained pairs|; measured on the dense order/supplier
    case the filter-free plan wins.

    Output: (left_id, right_id, n_left) with n_left = |left set|.
    """
    lsz = left_post.groupBy(left_id).agg(F.count(F.lit(1)).alias("n_left"))
    shared = (
        left_post.join(right_post, el)
        .groupBy(left_id, right_id)
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        shared.join(lsz, left_id)
        .filter(F.col("n_shared") == F.col("n_left"))
        .select(left_id, right_id, "n_left")
    )


def set_containment_join_bitmap(
    left_post: DataFrame,
    left_id: str,
    right_post: DataFrame,
    right_id: str,
    capacity: int,
    el: str = "_el",
) -> DataFrame:
    """Dense-right-dimension fast path for set containment — the third
    physical strategy beside the postings count-equality plan and the
    sparse prefix filter.

    When the right dimension's ids fit a fixed range ``[0, capacity)``
    (suppliers, categories, shards — anything dimension-table-sized),
    each element's right-member set is a ``capacity``-bit bitmap packed
    into ``ceil(capacity/64)`` longs. Containment = bitwise AND of the
    bitmaps of the left set's elements: the pair aggregation that the
    postings plan pays (one group per CANDIDATE pair — 17M groups on the
    dense order/supplier case, its entire cost) disappears; the AND
    collapses it to one |left set|-row aggregation with ``bit_and``
    (map-side combinable), and only the surviving bits are decoded.

    Plan: right postings → per-element bitmap words (vocabulary-sized,
    broadcast); left postings repartitioned ONCE by ``left_id`` so the
    internal distinct AND the bitmap aggregation both reuse that
    exchange (subset-of-keys clustering); AND + count per left id; then
    a codegen-only bit decode (posexplode words → explode bit indexes —
    deliberately NOT a higher-order-function lambda, which runs on the
    interpreted expression path and was measured 3x slower than this).

    Inputs are raw postings — duplicates allowed on both sides (left is
    deduped internally, collect_set dedups the right). Left elements
    with NO right postings zero the bitmap (uncontainable) while still
    counting toward |left set| — the left join + coalesce below, NOT an
    inner join, which would silently shrink the left set. Right ids
    outside ``[0, capacity)`` raise at execution rather than aliasing
    into another id's bit.

    Regime guide (measured, sf0.1 order/supplier, 1k-supplier dim):
    bitmap 1.2 s; postings count-equality 6 s; prefix filter worse still
    (dense DF defeats it). At 100 TB the bitmap row is capacity/8 bytes
    — keep it for dimensions up to ~1M ids (125 KB/element broadcast
    rows); beyond that the general postings plan is the scale path.

    Output: (left_id, right_id, n_left) — identical to the other
    strategies; ``right_id`` is reconstructed as a long.
    """
    n_words = (capacity + 63) // 64
    # bitmap words built with bit_or AGGREGATES, not collect_set + a
    # higher-order fold: per posting row the (word index, bit) pair is
    # whole-stage codegen, and the n_words bit_or aggregates are
    # map-side combinable — the old HOF aggregate ran interpreted over
    # every element list (r10 same-session A/B: query 1.77 -> 1.35 s
    # median at sf0.1, identical output). bit_or also dedups repeated
    # postings for free.
    rp = right_post.filter(
        # NULL right ids carry no membership; the old collect_set form
        # dropped them silently — keep that contract (IF(NULL,..) would
        # otherwise take the raise_error branch)
        F.col(right_id).isNotNull()
    ).select(
        el,
        F.expr(
            f"IF({right_id} >= 0 AND {right_id} < {capacity}, "
            f"CAST({right_id} AS BIGINT), "
            "raise_error('set_containment_join_bitmap: right id out of [0, capacity)'))"
        ).alias("__s"),
    ).select(
        el,
        (F.col("__s") / 64).cast("int").alias("__wi"),
        F.expr("shiftleft(1L, CAST(__s % 64 AS INT))").alias("__bit"),
    )
    words = (
        rp.groupBy(el)
        .agg(
            *[
                F.coalesce(
                    F.bit_or(F.when(F.col("__wi") == i, F.col("__bit"))), F.lit(0)
                ).alias(f"__rw{i}")
                for i in range(n_words)
            ]
        )
        .select(el, F.array(*[F.col(f"__rw{i}") for i in range(n_words)]).alias("__wd"))
    )
    lp = left_post.select(left_id, el).repartition(left_id).distinct()
    attached = lp.join(F.broadcast(words), el, "left").select(
        left_id,
        *[F.coalesce(F.col("__wd")[i], F.lit(0)).alias(f"__w{i}") for i in range(n_words)],
    )
    agg = attached.groupBy(left_id).agg(
        F.count(F.lit(1)).alias("n_left"),
        *[F.bit_and(f"__w{i}").alias(f"__w{i}") for i in range(n_words)],
    )
    return (
        agg.withColumn("__a", F.array(*[F.col(f"__w{i}") for i in range(n_words)]))
        .select(left_id, "n_left", F.posexplode("__a").alias("__wi", "__wv"))
        .filter(F.col("__wv") != 0)
        .select(
            left_id,
            "n_left",
            "__wi",
            "__wv",
            F.explode(F.sequence(F.lit(0), F.lit(63))).alias("__b"),
        )
        .filter(F.expr("(shiftright(__wv, __b) & 1) = 1"))
        .select(
            left_id,
            (F.col("__wi") * 64 + F.col("__b")).cast("long").alias(right_id),
            "n_left",
        )
    )


def set_containment_join_auto(
    left_post: DataFrame,
    left_id: str,
    right_post: DataFrame,
    right_id: str,
    el: str = "_el",
    bitmap_capacity_cap: int = 1 << 20,
    right_id_bounds: tuple[int, int] | None = None,
) -> DataFrame:
    """Stats-driven strategy pick for postings inputs — the optimizer
    face of the containment-join family. ONE dimension-sized aggregation
    over the right ids decides:

    - integral ids packed in ``[0, cap)`` with ``cap`` at most
      ``bitmap_capacity_cap`` (default 1M ids = 128 KB/element bitmaps)
      → :func:`set_containment_join_bitmap` (no per-pair aggregation);
    - anything else (huge/negative/non-integral id space)
      → :func:`set_containment_join_postings` (unbounded general plan;
      inputs deduplicated here, matching its distinct-postings
      contract).

    The sparse-vocabulary prefix strategy stays an explicit array-API
    choice (:func:`set_containment_join_prefix`): its exact-verify step
    is array-native, so it does not fit a postings-only dispatcher.
    Duplicates are allowed on both inputs for either branch.

    ``right_id_bounds`` short-circuits the probe with externally known
    (min, max) id bounds — catalog/footer statistics. When the right ids
    come off a dimension table scan, parquet footer min/max answer this
    at PLANNING time (see ``sources.stats.parquet_column_bounds``) and
    the runtime probe aggregation disappears entirely. The bounds must
    COVER the actual ids (a dimension's bounds cover its fact-side
    foreign keys by integrity); the bitmap operator still raises on any
    id outside them rather than aliasing.

    Output: (left_id, right_id, n_left) — identical across strategies
    up to the id column's type (the bitmap decode yields longs).
    """
    from pyspark.sql import types as T

    id_type = right_post.schema[right_id].dataType
    if isinstance(id_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        if right_id_bounds is not None:
            mn, mx = right_id_bounds
        else:
            r = right_post.agg(
                F.min(right_id).alias("mn"), F.max(right_id).alias("mx")
            ).first()
            mn, mx = r["mn"], r["mx"]
        if mn is not None and int(mn) >= 0 and int(mx) < bitmap_capacity_cap:
            return set_containment_join_bitmap(
                left_post, left_id, right_post, right_id, int(mx) + 1, el
            )
    return set_containment_join_postings(
        left_post.select(left_id, el).distinct(),
        left_id,
        right_post.select(right_id, el).distinct(),
        right_id,
        el,
    )


def skyline_2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    max_x: bool = False,
    max_y: bool = False,
    num_partitions: int | None = None,
) -> DataFrame:
    """2-D skyline (Pareto frontier): the (x, y) pairs not strictly
    dominated by any other row — q dominates p when q is at-least-as-good
    on both coordinates and strictly better on one. ``max_x``/``max_y``
    flip a coordinate's direction (defaults minimize); rows with a NULL
    coordinate are excluded (NULL has no place in a dominance order).

    Spark has no skyline operator, and the textbook NOT EXISTS self-join
    is quadratic. The sort-order identity makes it linear: over DISTINCT
    pairs in (x, y) lexicographic order, every pair sorted earlier has
    smaller x, or equal x and smaller y — so p is dominated iff the
    running prefix min of y over its strict predecessors is <= p.y.
    One ordered pass, no joins.

    The global order does NOT use an unpartitioned window (the
    single-reducer scale-killer): like `partitioning.ranked_by_range`,
    pairs are repartitionByRange'd on (x, y) — size-balanced, globally
    ordered ACROSS partitions — each partition computes its local
    prefix min in parallel, and the cross-partition carry-in is a
    partition-count-sized collect broadcast back as a pid→min literal
    map. The ranged layout is materialized once (localCheckpoint)
    because the range partitioner's boundary sampling is re-seeded per
    execution — the carry-ins must describe the same placement the
    final pass reads.

    Returns the skyline as distinct (x_col, y_col) pairs in the
    original orientation; duplicates of a frontier point are mutually
    non-dominating, so callers wanting rows semi-join the (tiny) result
    back — broadcast, no extra shuffle.
    """
    spark = df.sparkSession
    sx = (-F.col(x_col)) if max_x else F.col(x_col)
    sy = (-F.col(y_col)) if max_y else F.col(y_col)
    pairs = (
        df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
        .select(sx.alias("__sx"), sy.alias("__sy"))
        .distinct()
    )
    n = num_partitions or spark.sparkContext.defaultParallelism
    from ..caching import pin

    parts = pin(
        pairs.repartitionByRange(n, F.col("__sx"), F.col("__sy")).withColumn(
            "__pid", F.spark_partition_id()
        )
    )
    stats = sorted(
        parts.groupBy("__pid").agg(F.min("__sy").alias("__m")).collect(),
        key=lambda r: r["__pid"],
    )
    carry: dict[int, float] = {}
    acc = None
    for r in stats:
        if acc is not None:
            carry[r["__pid"]] = acc
        acc = r["__m"] if acc is None else min(acc, r["__m"])
    w = (
        Window.partitionBy("__pid")
        .orderBy("__sx", "__sy")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry_col = (
        F.create_map(*[F.lit(v) for kv in carry.items() for v in kv])[F.col("__pid")]
        if carry
        else F.lit(None).cast(parts.schema["__sy"].dataType)
    )
    prev_min = F.least(F.min("__sy").over(w), carry_col)
    return (
        parts.withColumn("__prev", prev_min)
        .filter(F.col("__prev").isNull() | (F.col("__sy") < F.col("__prev")))
        .select(
            ((-F.col("__sx")) if max_x else F.col("__sx")).alias(x_col),
            ((-F.col("__sy")) if max_y else F.col("__sy")).alias(y_col),
        )
    )


def set_containment_join_prefix(
    left: DataFrame,
    left_id: str,
    left_arr: str,
    right: DataFrame,
    right_id: str,
    right_arr: str,
) -> DataFrame:
    """Alternative physical strategy for :func:`set_containment_join` —
    the PPJoin prefix filter. Same output (hash-match proven against the
    same oracle), different cost model.

    Containment must match on EVERY left element, so candidates only
    need to be generated from ONE of them — the globally RAREST one
    minimizes candidate count. Plan:

    1. element document-frequency over the right side (vocabulary-sized,
       broadcast);
    2. per left row, keep only its rarest element (min_by; rows holding
       an element with zero right-side postings are provably
       uncontainable and dropped outright);
    3. candidates = rarest-element postings join + the n_right >= n_left
       length filter;
    4. exact verify: rejoin both arrays by id, keep pairs with
       size(array_except(L, R)) == 0.

    WHEN EACH STRATEGY WINS (measured, 10x sf0.1): the baseline postings
    join materializes every element co-occurrence (50 s) but streams it
    through codegen without touching the arrays again; this prefix path
    pays two candidate-keyed joins that SHUFFLE the full right arrays.
    On dense low-cardinality right dimensions (1k suppliers, every part
    supplied by hundreds of them) rarest-element DF is still huge, so
    candidates ~ co-occurrences and the array shuffle makes prefix
    SLOWER (70 s). On sparse zipfian vocabularies (text shingles, where
    min-DF is near 1 and right sets are small) candidates collapse to
    ~output size and prefix wins by orders of magnitude. Pick by
    element-DF profile — one `approx_count_distinct`/`count` over the
    postings tells you which regime you are in. (The prefix-filtered
    inverted index in `dedup.containment_pairs` is the text-domain,
    threshold-0.8 generalization: there the miss budget ⌊(1−t)·n⌋+1
    sizes the prefix instead of exactly 1.)
    """
    r_post = right.select(
        right_id,
        F.size(right_arr).alias("__n_right"),
        F.explode(right_arr).alias("_el"),
    )
    el_df = r_post.groupBy("_el").agg(F.count(F.lit(1)).alias("__df"))
    l_post = left.select(
        left_id,
        F.size(left_arr).alias("n_left"),
        F.explode(left_arr).alias("_el"),
    )
    l_rare = (
        l_post.join(F.broadcast(el_df), "_el", "left")
        .withColumn("__df", F.coalesce(F.col("__df"), F.lit(0)))
        .groupBy(left_id, "n_left")
        .agg(
            # deterministic rarest element: min df, ties to smallest element
            F.min_by("_el", F.struct("__df", "_el")).alias("_el"),
            F.min("__df").alias("__mindf"),
        )
        .filter(F.col("__mindf") > 0)
        .drop("__mindf")
    )
    cand = (
        l_rare.join(r_post, "_el")
        .filter(F.col("__n_right") >= F.col("n_left"))
        .select(left_id, right_id, "n_left")
    )
    return (
        cand.join(left.select(left_id, F.col(left_arr).alias("__l_arr")), left_id)
        .join(right.select(right_id, F.col(right_arr).alias("__r_arr")), right_id)
        .filter(F.size(F.array_except(F.col("__l_arr"), F.col("__r_arr"))) == 0)
        .select(left_id, right_id, "n_left")
    )
