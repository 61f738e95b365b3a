"""sf0.1 regime-flip oracle gate (closes VERDICT r8 "what's missing" #4).

The scale-sensitive operators pick their PHYSICAL plan at runtime —
connected components (driver union-find vs distributed min-label),
triangle counting (driver adjacency / naive 3-way / degree-ordered),
set-containment (bitmap vs postings), centroid assignment (JVM fold vs
Arrow map-side vs two-level) — and the thresholds mean the regime that
runs at the driver's sf0.01 hash gate is NOT always the regime that
runs at scale. Regime-equality unit tests cover forced regimes at small
n; this gate closes the remaining hole end-to-end: it re-runs the
affected REGISTRY queries (same inputs, same oracle SQL as the driver's
gate) at sf0.1 with EVERY regime forced in turn, and hash-compares each
regime's full result against the DuckDB oracle with the same
row-count + columns + order-insensitive-values comparator the driver
uses (scripts/check_oracle.compare).

Forcing works by wrapping the operator's module attribute with pinned
dispatch kwargs — the registry queries import operators inside their
bodies, so the call-time lookup picks up the wrapper and the query's
own inputs/post-processing stay byte-identical to the driver's gate.

Also checks two_level_assign (the k>~100k third assignment regime —
reachable only through its explicit API, so no registry query flips
into it) against the oracle-certified flat `_jvm_assign` on the full
sf embeddings table: regime equality at the scale the small-n unit
tests can't reach.

Usage: python scripts/regime_gate.py [sf_dir] [--json OUT.json]
(default sf_dir /root/testdata/sf0.1). Exit 0 iff every forced regime
matches its oracle.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import duckdb

from check_oracle import compare  # noqa: E402
from catlas_spark import queries as Q  # noqa: E402
from catlas_spark.session import get_spark  # noqa: E402
from catlas_spark.sources.star import STAR_TABLES  # noqa: E402

# "unbounded" threshold that still fits a Java int after the dispatch's
# limit(driver_max_edges + 1) probe
BIG = (1 << 31) - 2

# query -> regime label -> (module path, attr, forced kwargs)
REGIMES: dict[str, dict[str, tuple[str, str, dict]]] = {
    "dedup_cluster_assign": {
        "cc-driver": (
            "catlas_spark.operators.dedup",
            "connected_components",
            {"driver_max_edges": BIG},
        ),
        "cc-distributed": (
            "catlas_spark.operators.dedup",
            "connected_components",
            {"driver_max_edges": 0},
        ),
    },
    "dedup_cluster_assign_lsh": {
        "cc-driver": (
            "catlas_spark.operators.dedup",
            "connected_components",
            {"driver_max_edges": BIG},
        ),
        "cc-distributed": (
            "catlas_spark.operators.dedup",
            "connected_components",
            {"driver_max_edges": 0},
        ),
    },
    "dedup_cluster_keep_best": {
        "cc-driver": (
            "catlas_spark.operators.dedup",
            "connected_components",
            {"driver_max_edges": BIG},
        ),
        "cc-distributed": (
            "catlas_spark.operators.dedup",
            "connected_components",
            {"driver_max_edges": 0},
        ),
    },
    "triangle_count_parts": {
        "driver-adjacency": (
            "catlas_spark.operators.graph",
            "triangle_participation",
            {"driver_max_edges": BIG, "naive_max_edges": BIG},
        ),
        "naive-3way": (
            "catlas_spark.operators.graph",
            "triangle_participation",
            {"driver_max_edges": 0, "naive_max_edges": BIG},
        ),
        "degree-ordered": (
            "catlas_spark.operators.graph",
            "triangle_participation",
            {"driver_max_edges": 0, "naive_max_edges": 0},
        ),
    },
    "set_containment_join": {
        # default footer-bounds dispatch picks bitmap on this packed id
        # space; cap=0 rules the bitmap out and forces the general
        # postings plan on the same inputs
        "bitmap": (
            "catlas_spark.operators.relational",
            "set_containment_join_auto",
            {},
        ),
        "postings": (
            "catlas_spark.operators.relational",
            "set_containment_join_auto",
            {"bitmap_capacity_cap": 0},
        ),
    },
    "exact_quantiles": {
        # small-input direct (Spark exact percentile) vs the scale-safe
        # ranks plan (r10 dispatch on Catalyst's input estimate)
        "quantile-direct": (
            "catlas_spark.partitioning",
            "grouped_exact_quantiles",
            {"direct_max_bytes": BIG},
        ),
        "quantile-ranks": (
            "catlas_spark.partitioning",
            "grouped_exact_quantiles",
            {"direct_max_bytes": 0},
        ),
    },
    "dedup_minhash_lsh": {
        # signature-form dispatch (r10): explode+groupBy below
        # MINHASH_INROW_MIN_BYTES of estimated input, in-row HOF fold
        # above — both must hash-match the oracle at sf0.1
        "sig-explode": (
            "catlas_spark.operators.dedup",
            "minhash_signatures",
            {"form": "explode"},
        ),
        "sig-inrow": (
            "catlas_spark.operators.dedup",
            "minhash_signatures",
            {"form": "inrow"},
        ),
    },
    "dedup_containment_banded": {
        # the banded containment rides the same signature-form dispatch
        # (its candidates come from minhash_signatures) — both forms
        # must hash-match the banding-replay oracle at sf0.1
        "sig-explode": (
            "catlas_spark.operators.dedup",
            "minhash_signatures",
            {"form": "explode"},
        ),
        "sig-inrow": (
            "catlas_spark.operators.dedup",
            "minhash_signatures",
            {"form": "inrow"},
        ),
    },
    "bpe_merge_train": {
        # bounded-collect driver merge loop (vocab fits) vs the
        # distributed window/groupBy loop — the connected_components
        # dispatch pattern; no plan mark needed (deterministic kwarg
        # comparison, and both regimes return the learned merge table as
        # the same ``local_frame`` LocalRelation anyway)
        "bpe-driver": (
            "catlas_spark.operators.tokenize",
            "bpe_train",
            {"driver_max_vocab": BIG},
        ),
        "bpe-distributed": (
            "catlas_spark.operators.tokenize",
            "bpe_train",
            {"driver_max_vocab": 0},
        ),
    },
    "bpe_encode_corpus": {
        "bpe-driver": (
            "catlas_spark.operators.tokenize",
            "bpe_segment_words",
            {"driver_max_vocab": BIG},
        ),
        "bpe-distributed": (
            "catlas_spark.operators.tokenize",
            "bpe_segment_words",
            {"driver_max_vocab": 0},
        ),
    },
    "kmeans_ivf_train": {
        "jvm-assign": (
            "catlas_spark.operators.similarity",
            "kmeans_lloyd",
            {"arrow_assign_from": BIG},
        ),
        "arrow-assign": (
            "catlas_spark.operators.similarity",
            "kmeans_lloyd",
            {"arrow_assign_from": 1},
        ),
    },
    "dedup_semantic": {
        "jvm-assign": (
            "catlas_spark.operators.similarity",
            "semantic_dedup",
            {"arrow_assign_from": BIG},
        ),
        "arrow-assign": (
            "catlas_spark.operators.similarity",
            "semantic_dedup",
            {"arrow_assign_from": 1},
        ),
    },
}


# (query, label) -> (plan substring, must_be_present), checked against
# the returned frame's optimized plan: proves the forced regime ACTUALLY
# ran where forcing is INDIRECT (review — the containment "bitmap" row
# forces nothing and would silently re-test postings under a green
# bitmap label if the default dispatch drifted; the Arrow-assignment
# threshold could rot the same way). The bitmap strategy names its
# bitmap columns; the Arrow regimes add a MapInPandas stage. The
# CC/triangle regimes need no mark: their dispatch is a deterministic
# comparison against the forced kwarg itself (edge count vs 0 / BIG),
# covered by the signature-drift test plus the operators' forced-regime
# unit tests. (Only the distributed loop's checkpoint collapses to a
# LogicalRDD in the returned plan; the driver regime returns a
# ``local_frame`` LocalRelation, a LocalTableScan with no upstream.)
PLAN_MARKS: dict[tuple[str, str], tuple[str, bool]] = {
    # the in-row signature fold is the only array_min in this plan; the
    # explode form aggregates with min()+collect_set instead
    ("dedup_minhash_lsh", "sig-explode"): ("array_min", False),
    ("dedup_minhash_lsh", "sig-inrow"): ("array_min", True),
    ("dedup_containment_banded", "sig-explode"): ("array_min", False),
    ("dedup_containment_banded", "sig-inrow"): ("array_min", True),
    # only the direct regime evaluates Spark's percentile aggregate;
    # the ranks plan (footer bounds) carries no percentile at all
    ("exact_quantiles", "quantile-direct"): ("percentile", True),
    ("exact_quantiles", "quantile-ranks"): ("percentile", False),
    ("set_containment_join", "bitmap"): ("bitmap", True),
    ("set_containment_join", "postings"): ("bitmap", False),
    ("kmeans_ivf_train", "jvm-assign"): ("MapInPandas", False),
    ("kmeans_ivf_train", "arrow-assign"): ("MapInPandas", True),
    ("dedup_semantic", "jvm-assign"): ("MapInPandas", False),
    ("dedup_semantic", "arrow-assign"): ("MapInPandas", True),
}


def _plan_mark_error(qname: str, label: str, df) -> str | None:
    mark = PLAN_MARKS.get((qname, label))
    if mark is None:
        return None
    token, want = mark
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    if (token in plan) != want:
        return (
            f"regime not engaged: expected {token!r} "
            f"{'present' if want else 'absent'} in the optimized plan"
        )
    return None


class _force:
    """Context manager: pin dispatch kwargs on a module attribute."""

    def __init__(self, mod_path: str, attr: str, forced: dict):
        import importlib

        self.mod = importlib.import_module(mod_path)
        self.attr = attr
        self.forced = forced
        self.orig = getattr(self.mod, attr)

    def __enter__(self):
        orig, forced = self.orig, self.forced

        def wrapper(*a, **k):
            return orig(*a, **{**k, **forced})

        setattr(self.mod, self.attr, wrapper)
        return self

    def __exit__(self, *exc):
        setattr(self.mod, self.attr, self.orig)


def _two_level_vs_flat(spark, sf_dir: str) -> str | None:
    """Regime equality for the explicit-API third assignment regime at
    full sf scale: two_level_assign(probes=n_coarse) must EXACTLY equal
    the oracle-certified flat _jvm_assign on the sf embeddings with the
    dedup_semantic centroid convention (k smallest ids' vectors)."""
    from pyspark.sql import functions as F

    from catlas_spark.operators.similarity import (
        _jvm_assign,
        _seed_centroids,
        two_level_assign,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").alias("vid"), F.col("embedding").cast("array<double>").alias("v")
    )
    centroids = _seed_centroids(emb, 8)

    def norm(df):
        import pandas as pd

        pdf = df.select("vid", "cid", F.round("d2", 6).alias("d2")).toPandas()
        # NULL d2 (NULL/ragged vectors) arrives as NaN via toPandas, and
        # NaN != NaN would flag two identical results as a diff — map the
        # whole NULL/NaN class to None before comparing (review)
        return sorted(
            (r.vid, r.cid, None if pd.isna(r.d2) else r.d2)
            for r in pdf.itertuples(index=False)
        )

    flat = norm(_jvm_assign(emb, centroids))
    two = norm(two_level_assign(emb, centroids, n_coarse=3))
    if flat != two:
        diffs = [(a, b) for a, b in zip(flat, two) if a != b][:3]
        return f"two_level_assign != _jvm_assign at {sf_dir}: first diffs {diffs}"
    return None


def main() -> int:
    argv = sys.argv[1:]
    out_json = None
    if "--json" in argv:
        i = argv.index("--json")
        out_json = argv[i + 1]
        del argv[i : i + 2]  # the value must not leak into positionals
    args = [a for a in argv if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"

    # the registry plan cache must not memoize a REGIME-FORCED plan (a
    # lazy query built under _force would otherwise serve that regime's
    # plan to every later caller of the same session); restored in the
    # finally below — main() also runs in-process from the test suite,
    # where a permanent mutation would disable the cache for every
    # later plan-cache test in the same pytest process
    prev_plan_cache = os.environ.get("SPARK_GRAFT_PLAN_CACHE")
    os.environ["SPARK_GRAFT_PLAN_CACHE"] = "0"
    try:
        return _main_gate(sf_dir, out_json)
    finally:
        if prev_plan_cache is None:
            os.environ.pop("SPARK_GRAFT_PLAN_CACHE", None)
        else:
            os.environ["SPARK_GRAFT_PLAN_CACHE"] = prev_plan_cache


def _main_gate(sf_dir: str, out_json: str | None) -> int:
    spark = get_spark("regime_gate")
    con = duckdb.connect()
    for t in STAR_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs, oracles = Q.queries(), Q.oracle_sql()
    # warm the JVM so the first regime's time isn't startup-skewed
    spark.read.parquet(f"{sf_dir}/region.parquet").count()

    results: dict[str, dict] = {}
    n_fail = 0
    for qname, regimes in REGIMES.items():
        ddf = con.execute(oracles[qname]).fetchdf()
        results[qname] = {}
        for label, (mod_path, attr, forced) in regimes.items():
            t0 = time.perf_counter()
            try:
                with _force(mod_path, attr, forced):
                    df = qs[qname](spark, sf_dir)
                err = _plan_mark_error(qname, label, df)
                if err is None:
                    sdf = df.toPandas()
                    err = compare(sdf, ddf)
            except Exception as e:  # noqa: BLE001 — report, don't abort the sweep
                err = f"{type(e).__name__}: {str(e)[:200]}"
            dt = round(time.perf_counter() - t0, 3)
            ok = err is None
            n_fail += 0 if ok else 1
            results[qname][label] = {"ok": ok, "sec": dt, **({} if ok else {"err": err})}
            print(f"{'PASS' if ok else 'FAIL'}  {qname} [{label}] {dt}s"
                  + ("" if ok else f": {err}"))

    err = _two_level_vs_flat(spark, sf_dir)
    ok = err is None
    n_fail += 0 if ok else 1
    results["two_level_assign_vs_flat"] = {"equality": {"ok": ok, **({} if ok else {"err": err})}}
    print(f"{'PASS' if ok else 'FAIL'}  two_level_assign_vs_flat"
          + ("" if ok else f": {err}"))

    summary = {"sf_dir": sf_dir, "n_fail": n_fail, "results": results}
    if out_json:
        with open(out_json, "w") as f:
            json.dump(summary, f, indent=1, sort_keys=True)
    print(json.dumps({"regime_gate": {"sf_dir": sf_dir, "n_fail": n_fail,
                                      "n_checks": sum(len(v) for v in results.values())}}))
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
