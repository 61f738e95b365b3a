"""Cache lifetime for operators that persist a reused subtree.

An operator materializes its SMALL output eagerly
(:func:`materialize_and_release`) so the big persisted intermediates it
read are released at once, not pinned until the caller's action.

**One lifetime rule.** Every frame that needs a cache entry registers
as a HOLDER of it (:func:`hold`); the entry is unpersisted when its last
holder is garbage-collected, and releasing an intermediate
(:func:`release`) is a no-op while a live holder holds the same entry.
Entries are identified by their buffer RDD id, not by plan: Spark's
CacheManager matches entries by CANONICALIZED PLAN, so a re-run of a
query shares the older result's entry, and a release keyed by plan let
the dropped older frame uncache the newer one (its action then
recomputed everything: for ``dedup_minhash_lsh`` at sf0.1 on local[4],
3 jobs and 3.8 s instead of 1 job and 0.1 s). At refcount 0 the entry is
unpersisted only if the plan still maps to the same buffer RDD, so a
newer entry for that plan (after a ``clearCache``) is never touched.
An entry never released is worse than a leak: a later query deriving
the same subtree silently reads it (a cache hit, not the plan).

Materialization is ``persist(MEMORY_AND_DISK) + count()``, NOT
``localCheckpoint()``, which TRUNCATES lineage: on a real cluster a lost
executor block would make every downstream action fail, while the cache
keeps lineage and a lost block recomputes. MEMORY_AND_DISK because
MEMORY_ONLY silently drops partitions under pressure.

The returned frame explains as an InMemoryTableScan; tooling that needs
the REAL lazy plan (the plan-regression sweep, the PLANS.md generator)
wraps its calls in :func:`lazy_plans`, where materialization is a no-op.
Nothing here sets execution confs: the materializing actions run under
the frame's own session (for registry queries, its profile's session).
"""

from __future__ import annotations

import threading
import weakref
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_MATERIALIZE = True

# applicationIds already warned about a disabled checkpoint cleaner —
# one warning per context, not one per pin() call
_CKPT_CLEANER_WARNED: set[str] = set()

# live holders per cache entry, keyed by the entry's buffer RDD id;
# finalizers run on whichever thread collects the holder, hence the lock
_HOLDERS: dict[int, int] = {}
_HOLDERS_LOCK = threading.RLock()


def _entry_id(jdf) -> int | None:
    """Buffer RDD id of the cache entry ``jdf``'s plan maps to, or None
    when there is none or its buffers are not loaded yet (asking an
    unbuilt entry for its buffers builds them, which runs the plan)."""
    entry = jdf.sparkSession().sharedState().cacheManager().lookupCachedData(jdf)
    if entry.isEmpty():
        return None
    builder = entry.get().cachedRepresentation().cacheBuilder()
    if not builder.isCachedColumnBuffersLoaded():
        return None
    return builder.cachedColumnBuffers().id()


def _drop_holder(eid: int, jdf) -> None:
    """Finalizer body: one holder of entry ``eid`` died; at the last one
    unpersist the entry if ``jdf``'s plan still maps to it (guarded —
    the py4j gateway may already be gone at interpreter shutdown)."""
    with _HOLDERS_LOCK:
        _HOLDERS[eid] -= 1
        if _HOLDERS[eid]:
            return
        del _HOLDERS[eid]
    try:
        if _entry_id(jdf) == eid:
            jdf.unpersist(False)
    except Exception:
        pass


def hold(holder: DataFrame, cached: DataFrame) -> DataFrame:
    """Register ``holder`` as a holder of the (materialized) cache entry
    that ``cached``'s plan maps to; returns ``holder``. A frame derived
    from a materialized one holds its parent's entry this way, so the
    entry outlives the parent's wrapper."""
    eid = _entry_id(cached._jdf)
    if eid is not None:
        with _HOLDERS_LOCK:
            _HOLDERS[eid] = _HOLDERS.get(eid, 0) + 1
        weakref.finalize(holder, _drop_holder, eid, cached._jdf)
    return holder


def release(df: DataFrame) -> None:
    """Unpersist ``df``'s cache entry unless a live holder holds it."""
    if not _HOLDERS or _entry_id(df._jdf) not in _HOLDERS:
        df.unpersist(blocking=False)


def run_builder(build, spark, *args) -> DataFrame:
    """``build(spark, *args)``; a build that raises (say, between an
    operator's :func:`maybe_persist` and its release) leaves none of the
    cache entries it registered behind."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    before = cm.cachedData()
    try:
        return build(spark, *args)
    except Exception:
        new = cm.cachedData().diff(before)
        for i in range(new.size()):
            cm.uncacheQuery(spark._jsparkSession, new.apply(i).plan(), False, False)
        raise


_LAZY_PINS: list[DataFrame] = []


@contextmanager
def lazy_plans():
    """Within this context, operators skip materialize/release and return
    their full lazy plans (for explain/inspection tooling only).

    Frames pinned during the context (see :func:`pin`) are persisted
    instead of checkpointed and are released (:func:`release`) HERE on
    exit, so plan tooling neither hides pinned subtrees behind Scan
    ExistingRDD nor leaks canonicalized-plan CacheManager entries into
    later queries, and a pin that shares a live holder's entry leaves
    it cached."""
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
                    release(df)
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
    should register a cache: under :func:`lazy_plans` nothing is
    released, so an unconditional ``persist()`` there would leave an
    entry for a later query to read (the hazard described above)."""
    if not _MATERIALIZE:
        return df
    return df.persist(level)


def materialize_and_release(out: DataFrame, *caches: DataFrame) -> DataFrame:
    """Materialize ``out`` (persist + count), :func:`hold` it and
    :func:`release` ``caches``. Under :func:`lazy_plans` this is a no-op
    returning ``out`` unchanged."""
    if not _MATERIALIZE:
        return out
    out = out.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        out.count()
    except Exception:
        # release-on-error (r8 review): a failed materializing count
        # (bad plan, executor loss, ANSI abort in the subtree) must not
        # leave `out` registered in the CacheManager with no holder
        # — the stale-canonicalized-plan hazard this module documents —
        # nor keep the upstream caches pinned for the session
        for c in (out, *caches):
            release(c)
        raise
    hold(out, out)
    for c in caches:
        release(c)
    return out


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
        # session.get_spark sets it; a driver-owned session must set it
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
