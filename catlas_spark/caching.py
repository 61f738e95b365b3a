"""Cache-lifetime discipline for operators that persist a reused subtree.

The pattern (established for `dedup_cluster_keep_best`, then applied
module-wide): materialize the operator's SMALL output eagerly so the big
persisted intermediate can be released immediately, instead of pinning
executor memory until the caller's collect — across a 130-query session,
unreleased MEMORY_ONLY caches accumulate.

Materialization is ``persist(MEMORY_AND_DISK) + count()``, NOT
``localCheckpoint()``: local wall-clock is a wash (clean isolated A/B
over the dedup family, medians within ±0.1-0.5 s either way — an
earlier measurement suggesting persist was 0.5-1.3 s faster was
contaminated by cross-query cache pollution, see below), but
``localCheckpoint`` TRUNCATES lineage, so on a real cluster a lost
executor block makes every downstream action fail; the cache keeps
lineage and a lost block recomputes (slowly, through the
now-unpersisted subtree) instead of failing. At 1000 executors that
robustness is the deciding property.

MEMORY_AND_DISK (not MEMORY_ONLY) because the contract is "the big
caches are released, the small output is materialized": MEMORY_ONLY
silently DROPS partitions under pressure, and an evicted output
partition would recompute through the now-unpersisted subtree.

Unlike checkpointed RDD blocks (cleaned by the ContextCleaner when the
DataFrame is garbage-collected), a persisted DataFrame is pinned by the
session CacheManager until an explicit unpersist — so a weakref
finalizer on the returned frame unpersists it when the caller drops the
last reference, restoring release-on-GC across a many-query session.
Without the finalizer this is worse than a leak: the CacheManager
matches cache entries by CANONICALIZED PLAN, so a later query that
derives the same subtree silently reads the stale entry and benchmarks
measure a cache hit instead of the plan (observed: dedup_minhash_lsh
"ran" in 0.49 s because a prior query's lingering output matched).

The cost of the discipline is plan opacity of the returned frame (it
explains as an InMemoryTableScan). Tooling that needs the REAL lazy plan
(the plan-regression sweep, the PLANS.md generator) wraps its calls in
:func:`lazy_plans`, which turns :func:`materialize_and_release` into a
no-op — the operators then return their full lazy trees (with the
caches left to the ContextCleaner, fine for explain-only use).

Nothing here sets execution confs: the materializing actions run under
the caller's physical profile (AQE, shuffle width), which for registry
queries is decided once per query at its entry (queries.SMALL_INPUT_BYTES).
"""

from __future__ import annotations

import weakref
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_MATERIALIZE = True

# applicationIds already warned about a disabled checkpoint cleaner —
# one warning per context, not one per pin() call
_CKPT_CLEANER_WARNED: set[str] = set()


def _release_on_gc(jdf) -> None:
    """Finalizer body: unpersist the JVM Dataset when the Python frame is
    collected (guarded — the JVM/py4j gateway may already be gone at
    interpreter shutdown)."""
    try:
        jdf.unpersist(False)
    except Exception:
        pass


_LAZY_PINS: list[DataFrame] = []


@contextmanager
def lazy_plans():
    """Within this context, operators skip materialize/release and return
    their full lazy plans (for explain/inspection tooling only).

    Frames pinned during the context (see :func:`pin`) are persisted
    instead of checkpointed and are unpersisted HERE on exit, so plan
    tooling neither hides pinned subtrees behind Scan ExistingRDD nor
    leaks canonicalized-plan CacheManager entries into later queries."""
    global _MATERIALIZE
    prev = _MATERIALIZE
    _MATERIALIZE = False
    try:
        yield
    finally:
        _MATERIALIZE = prev
        if prev:  # outermost context only — nested exits keep outer pins
            while _LAZY_PINS:
                df = _LAZY_PINS.pop()
                try:
                    df.unpersist(False)
                except Exception:
                    pass


def is_materializing() -> bool:
    """True outside :func:`lazy_plans` — operators whose REGIME DISPATCH
    runs driver actions (probe collects, dispatch counts) consult this
    to return their representative distributed plan lazily instead:
    under the explain-only context those actions would re-execute the
    un-persisted upstream per probe (maybe_persist is a no-op there),
    and a driver-regime LocalRelation would make the plan sweep vacuous
    for exactly the plan it exists to check."""
    return _MATERIALIZE


def maybe_persist(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK
) -> DataFrame:
    """``persist()`` gated on the materialize flag — the ONLY way an
    operator whose release path is :func:`materialize_and_release`
    should register a cache.

    Under :func:`lazy_plans` the frame is returned unpersisted: an
    unconditional ``persist()`` there is worse than a leak, because
    ``materialize_and_release`` is a no-op in that mode and never
    unpersists, leaving a canonicalized-plan CacheManager entry that a
    LATER query deriving the same subtree silently builds and reads
    (the exact stale-cache hazard described above).
    """
    if not _MATERIALIZE:
        return df
    return df.persist(level)


def materialize_and_release(out: DataFrame, *caches: DataFrame) -> DataFrame:
    """Materialize ``out`` (persist + count) and unpersist ``caches``.

    The returned frame's cache entry is unpersisted automatically when
    the caller drops the last reference (weakref finalizer), so operator
    outputs do not accumulate in the CacheManager across a session.
    Under :func:`lazy_plans` this is a no-op returning ``out`` unchanged.
    """
    if not _MATERIALIZE:
        return out
    out = out.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        out.count()
    except Exception:
        # release-on-error (r8 review): a failed materializing count
        # (bad plan, executor loss, ANSI abort in the subtree) must not
        # leave `out` registered in the CacheManager with no finalizer
        # — the stale-canonicalized-plan hazard this module documents —
        # nor keep the upstream caches pinned for the session
        out.unpersist(blocking=False)
        for c in caches:
            c.unpersist(blocking=False)
        raise
    weakref.finalize(out, _release_on_gc, out._jdf)
    for c in caches:
        c.unpersist(blocking=False)
    return out


def keep_alive(child: DataFrame, *parents: DataFrame) -> DataFrame:
    """Tie a materialized parent's release-on-GC to a DERIVED frame's
    lifetime.

    A caller that post-processes a :func:`materialize_and_release`
    output (select / cast / filter) returns a NEW Python wrapper; the
    operator output's local name dies at function return, the weakref
    finalizer fires, and the just-counted cache is unpersisted BEFORE
    the caller's action ever runs — a silent full recompute of the
    operator pipeline (caught at the r8 100x triangle stress: ten extra
    jobs re-running the whole 60M-row pair build after the M&R count
    had already done it). Attaching the parents to the child keeps the
    finalizer armed until the derived frame itself is dropped, which is
    the lifetime the release-on-GC discipline intended."""
    child._mr_keepalive = getattr(child, "_mr_keepalive", ()) + tuple(parents)
    return child


def pin(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize a layout whose row placement must not change between
    the passes that read it (ranked offsets, CC rounds, BPE states).

    Default: ``localCheckpoint`` — blocks live on executors; fast, but a
    lost executor makes downstream actions FAIL (loudly — never the
    silent rank corruption a recompute could cause, see
    ``ranked_by_range``). On a real cluster set
    ``SPARK_GRAFT_CHECKPOINT_DIR`` (once per session; any
    HDFS/S3/shared path): layouts are then RELIABLY checkpointed there
    and survive executor loss. The env var is read per call so long
    sessions can opt in late; ``setCheckpointDir`` is applied lazily
    and only once.

    Under :func:`lazy_plans` the frame is PERSISTED (eagerly, cache
    released at context exit) instead of checkpointed: a checkpointed
    frame explains as ``Scan ExistingRDD``, which made every pin-using
    query VACUOUSLY pass the Python-stage plan sweep (the r7 tautology
    hunt's finding) — the InMemoryRelation keeps the pinned subtree
    visible in explain output. A bare no-op was the r7 review's
    counter-finding: iterative operators run driver actions while the
    plan is BUILT (BRP retry rounds, BPE best-pair collects, CC
    convergence probes), and without materialization each round
    re-executes all prior rounds' lineage — O(rounds^2)-or-worse plan
    sweeps. The persist keeps those loops linear; cached placement is
    stable, so construction-time offset collects stay valid too.
    """
    import os

    if not _MATERIALIZE:
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        # register BEFORE the eager count (ADVICE r7): if the count
        # raises (bad plan, executor loss) an unregistered persisted
        # frame would outlive the context — the stale-canonicalized-plan
        # CacheManager hazard this list exists to close
        _LAZY_PINS.append(df)
        if eager:
            df.count()
        return df

    ckpt_dir = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if ckpt_dir:
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            sc.setCheckpointDir(ckpt_dir)
        # lifetime discipline for the reliable branch (r8 review, hoisted
        # per ADVICE r8): checkpoint files are deleted on RDD GC only when
        # spark.cleaner.referenceTracking.cleanCheckpoints=true, which is
        # STATIC (ContextCleaner captures it at context create —
        # session.get_session sets it; a driver-owned session must set it
        # itself). The accumulation hazard exists no matter WHO set the
        # checkpoint dir, so warn once per context regardless — a
        # driver-owned session that called setCheckpointDir itself but
        # never enabled the cleaner is exactly the silent-growth case.
        if (
            sc.applicationId not in _CKPT_CLEANER_WARNED
            and sc.getConf().get(
                "spark.cleaner.referenceTracking.cleanCheckpoints", "false"
            )
            != "true"
        ):
            _CKPT_CLEANER_WARNED.add(sc.applicationId)
            import warnings

            warnings.warn(
                "SPARK_GRAFT_CHECKPOINT_DIR is set but spark.cleaner."
                "referenceTracking.cleanCheckpoints is false: reliable "
                "checkpoints will accumulate until the path is purged "
                "manually. Set the conf at session create.",
                stacklevel=2,
            )
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)
