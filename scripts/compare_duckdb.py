"""Back-to-back Spark-vs-DuckDB ratio measurement — the reproducible
form of the methodology used in NOTES_BUILDER.md's bench pairs.

Runs every registry oracle SQL on DuckDB (same parquet, warm
connection, 3 passes, per-query medians) and compares against the
Spark per-query medians in BENCH_DETAIL.json. The two sides MUST come
from the same box state: run `python bench.py` immediately before this
on an idle machine, or the ratio mixes two machine states (observed
drift on this box inflates BOTH engines 10-25% across an hour —
compare ratios only within one back-to-back session).

Methodology notes (why the numbers are comparable):
- DuckDB executes + fetchall()s each query: materializing results is
  the closest analogue of bench.py's noop-sink full execution. Fetch
  conversion makes DuckDB look slightly slower than cursor-only
  timing; the judge's r3 measurement used the same convention.
- Per-query MEDIANS over 3 warm passes on both sides (single passes
  measured up to +/-25% apart).
- The summary decomposes the aggregate: Spark pays a per-query
  scheduling/codegen floor (~0.15-0.3 s) that a 145-query suite turns
  into ~20-40 s regardless of plan quality; the per-query table is the
  honest per-plan comparison.

INTERLEAVED MODE (``--interleaved``, the authoritative protocol): this
script runs BOTH engines itself, alternating Spark,DuckDB per query
WITHIN each warm pass (S,D,S,D,...). Both engines therefore sample the
same box state at ~second granularity, so a host degradation window
inflates both sides of every ratio equally instead of landing on
whichever engine happened to run second — the failure mode that
produced the rejected 1.3x degraded-denominator pairs (NOTES r9).
scripts/drift.py then validates pairs instead of rescuing them. The
Spark timing convention is bench.py's exactly (noop sink, cold warmup
pass, clearCache before each warm pass, per-query medians), and the
artifacts written are the same BENCH_DETAIL/DUCK_DETAIL pair.

Usage: python scripts/compare_duckdb.py [sf_dir] [--passes N]
           [--interleaved] [--commit-detail]
"""

from __future__ import annotations

import json
import re
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb

from catlas_spark import queries as Q

from catlas_spark.sources.star import STAR_TABLES as TABLES  # one source of truth


def _duck_connect(sf_dir: str):
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count()}")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def run_interleaved(
    sf_dir: str, n_passes: int, authoritative: bool, repo: str
) -> tuple[dict, dict, str]:
    """Run both engines in-session, alternating S,D per query within
    each pass. Returns (spark_medians, duck_medians, spark_src)."""
    from catlas_spark.session import get_spark

    spark = get_spark("compare_interleaved")
    con = _duck_connect(sf_dir)
    qs = dict(sorted(Q.queries().items()))
    oracles = Q.oracle_sql()
    names = [n for n in qs if n in oracles]
    skipped = sorted(set(qs) - set(names))
    if skipped:
        print(f"no oracle, skipped: {skipped}", file=sys.stderr)
    # JVM + parquet-footer warmup, then a COLD pass per engine (absorbs
    # JIT/codegen compile on the Spark side, catalog warmup on DuckDB's)
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    alive = []
    for n in names:
        try:
            qs[n](spark, sf_dir).write.format("noop").mode("overwrite").save()
            con.execute(oracles[n]).fetchall()
            alive.append(n)
        except Exception as e:
            print(f"cold-pass error {n}: {type(e).__name__}: {e}", file=sys.stderr)
    s_runs: dict[str, list[float]] = {n: [] for n in alive}
    d_runs: dict[str, list[float]] = {n: [] for n in alive}
    def _jvm_gc() -> None:
        # Quiesce the JVM between the two timings (UNTIMED): after a
        # cache-heavy Spark query the JVM's concurrent GC scans/frees
        # the just-unpersisted blocks WHILE DuckDB runs, and the
        # memory-bandwidth contention inflates DuckDB's bandwidth-bound
        # plans 4-10x (measured r10: the containment oracle 6.5 s solo,
        # 24-68 s mid-session, back to 6.7 s with this one System.gc()).
        # Called SYMMETRICALLY — after the Spark timing AND after the
        # DuckDB timing — so both engines start their timed runs from
        # the same quiesced heap state (ADVICE r10: gc only before the
        # DuckDB side also drained Spark's pending GC outside its own
        # timed window, a systematic deviation from bench.py solo runs).
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass

    for _ in range(n_passes):
        spark.catalog.clearCache()  # bench.py convention: no cache hits
        for n in alive:
            t0 = time.perf_counter()
            try:
                qs[n](spark, sf_dir).write.format("noop").mode("overwrite").save()
                s_runs[n].append(time.perf_counter() - t0)
            except Exception as e:
                print(f"spark error {n}: {type(e).__name__}: {e}", file=sys.stderr)
                # a degraded pass must not time only ONE side (ADVICE
                # r10): skipping the DuckDB sample too keeps the two
                # sides' medians over the same pass set
                continue
            _jvm_gc()
            t1 = time.perf_counter()
            try:
                con.execute(oracles[n]).fetchall()
                d_runs[n].append(time.perf_counter() - t1)
            except Exception as e:
                print(f"duckdb error {n}: {type(e).__name__}: {e}", file=sys.stderr)
            _jvm_gc()
    spark_med = {
        n: round(statistics.median(v), 3) for n, v in s_runs.items() if v
    }
    duck_med = {n: round(statistics.median(v), 3) for n, v in d_runs.items() if v}
    spark_mad = {
        n: round(statistics.median([abs(x - spark_med[n]) for x in v]), 3)
        for n, v in s_runs.items()
        if v
    }
    duck_mad = {
        n: round(statistics.median([abs(x - duck_med[n]) for x in v]), 3)
        for n, v in d_runs.items()
        if v
    }
    # variance gate (shared convention with bench.py): a pair with
    # noise-spiked rows must not become the committed authoritative pair
    unstable = sorted(
        set(
            n
            for n, med in spark_med.items()
            if spark_mad[n] > max(0.15, 0.35 * med)
        )
        | set(
            n for n, med in duck_med.items() if duck_mad[n] > max(0.15, 0.35 * med)
        )
    )
    if authoritative and unstable:
        print(
            f"--commit-detail refused: {len(unstable)} unstable rows "
            f"(MAD > max(0.15s, 35% of median)): {unstable} — re-run in a "
            "calm window",
            file=sys.stderr,
        )
        authoritative = False
    # persist the pair in bench.py's detail schema so drift.py and the
    # ratio tooling read interleaved pairs like any other
    total = round(sum(spark_med.values()), 3)
    failed = sorted(set(alive) - set(spark_med)) + [
        n for n in names if n not in alive
    ]
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    detail = {
        "metric": "total_query_seconds",
        "value": total,
        "unit": "sec",
        "queries": spark_med,
        "query_mad": spark_mad,
        # per-side sample counts: a degraded pair (sides measured over
        # different pass counts) is detectable in the artifact itself
        "query_n": {n: len(v) for n, v in s_runs.items() if v},
        "n_unstable": len(unstable),
        "unstable": unstable,
        "interleaved": True,
        "n_failed": len(failed),
        "failed": sorted(failed),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    bench_name = "BENCH_DETAIL.json" if authoritative else "BENCH_DETAIL.latest.json"
    with open(os.path.join(repo, bench_name), "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    return (
        spark_med,
        duck_med,
        bench_name + " (interleaved)",
        {"query_mad": duck_mad, "query_n": {n: len(v) for n, v in d_runs.items() if v}},
        authoritative,  # possibly downgraded by the variance gate
    )


def main() -> None:
    argv = sys.argv[1:]
    n_passes = 3
    if "--passes" in argv:
        i = argv.index("--passes")
        if i + 1 >= len(argv):
            raise SystemExit("--passes needs a value")
        n_passes = int(argv[i + 1])
        if n_passes < 1:
            raise SystemExit("--passes must be >= 1")
        del argv[i : i + 2]  # the VALUE must not leak into positionals
    interleaved = "--interleaved" in argv
    bad = [
        a
        for a in argv
        if a.startswith("--") and a not in ("--commit-detail", "--interleaved")
    ]
    if bad:
        raise SystemExit(
            f"unknown flags: {bad} "
            "(supported: --passes N, --commit-detail, --interleaved)"
        )
    args = [a for a in argv if not a.startswith("--")]
    sf_dir = args[0] if args else os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    # Authoritative-pair consistency: committing DUCK_DETAIL.json only
    # makes sense against the committed spark side — refuse the mixed
    # pairing (bench.py ran WITHOUT --commit-detail, so its run sits in
    # latest.json while the committed BENCH_DETAIL.json is a different
    # session; pairing them is the silent-shadowing failure the
    # protection exists to prevent).
    authoritative = "--commit-detail" in sys.argv or os.environ.get(
        "SPARK_GRAFT_BENCH_COMMIT", ""
    ).lower() not in ("", "0", "false", "no")

    repo_top = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if interleaved:
        # both sides produced in-session (S,D alternation per query) —
        # the pair is one box state by construction, so --commit-detail
        # needs no cross-artifact consistency check here
        spark, duck, spark_src, duck_extra, authoritative = run_interleaved(
            sf_dir, n_passes, authoritative, repo_top
        )
        _write_duck_and_summary(
            sf_dir, spark, duck, spark_src, authoritative, repo_top, True, duck_extra
        )
        return

    # spark side: prefer the NEWER of the committed authoritative detail
    # (BENCH_DETAIL.json, written only under bench.py --commit-detail)
    # and the default rerun artifact (BENCH_DETAIL.latest.json) — a
    # back-to-back pair should compare THIS session's spark run, while a
    # standalone oracle rerun still compares against the committed pair.
    # A candidate at the WRONG scale factor falls through to the next
    # (a newer latest.json at sf1 must not blank out a committed
    # BENCH_DETAIL.json that matches this sf_dir).
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    candidates = sorted(
        (
            p
            for p in (
                os.path.join(repo, "BENCH_DETAIL.json"),
                os.path.join(repo, "BENCH_DETAIL.latest.json"),
            )
            if os.path.exists(p)
        ),
        key=os.path.getmtime,
        reverse=True,
    )
    m = re.search(r"sf([0-9.]+)/?$", sf_dir)
    dir_sf = float(m.group(1)) if m else None
    spark: dict[str, float] = {}
    spark_src = "(none)"
    for p in candidates:
        detail = json.load(open(p))
        if (
            dir_sf is not None
            and detail.get("sf") is not None
            and float(detail["sf"]) == dir_sf
        ):
            spark = detail["queries"]
            spark_src = os.path.basename(p)
            break
        print(
            f"{os.path.basename(p)} is sf={detail.get('sf')} but "
            f"sf_dir={sf_dir}; trying next candidate",
            file=sys.stderr,
        )
    if not spark:
        print(
            "no BENCH_DETAIL at this sf; spark side omitted - rerun "
            "bench.py at this sf",
            file=sys.stderr,
        )
    if authoritative and spark_src != "BENCH_DETAIL.json":
        raise SystemExit(
            "--commit-detail refused: the spark side would come from "
            f"{spark_src}, not the committed BENCH_DETAIL.json — run "
            "`python bench.py --commit-detail` first so the committed "
            "pair is one session"
        )


    con = _duck_connect(sf_dir)

    oracles = Q.oracle_sql()
    runs: dict[str, list[float]] = {n: [] for n in oracles}
    for n, sql in oracles.items():  # warm pass (not timed)
        try:
            con.execute(sql).fetchall()
        except Exception as e:
            print(f"duckdb error {n}: {type(e).__name__}: {e}", file=sys.stderr)
            runs.pop(n)
    for _ in range(n_passes):
        for n in list(runs):
            t0 = time.perf_counter()
            try:
                con.execute(oracles[n]).fetchall()
            except Exception as e:  # a transient pass-2 failure must not
                # discard every completed measurement
                print(f"duckdb error {n}: {type(e).__name__}: {e}", file=sys.stderr)
                runs.pop(n)
                continue
            runs[n].append(time.perf_counter() - t0)
    duck = {n: round(statistics.median(v), 3) for n, v in runs.items() if v}
    duck_extra = {
        "query_mad": {
            n: round(statistics.median([abs(x - duck[n]) for x in v]), 3)
            for n, v in runs.items()
            if v
        },
        "query_n": {n: len(v) for n, v in runs.items() if v},
    }
    # same variance gate as bench.py / the interleaved path: a DuckDB
    # side with noise-spiked rows must not become the committed mate
    unstable = sorted(
        n
        for n, med in duck.items()
        if duck_extra["query_mad"][n] > max(0.15, 0.35 * med)
    )
    if authoritative and unstable:
        print(
            f"--commit-detail refused (duck side): {len(unstable)} unstable "
            f"rows: {unstable} — re-run in a calm window",
            file=sys.stderr,
        )
        authoritative = False
    _write_duck_and_summary(
        sf_dir, spark, duck, spark_src, authoritative, repo, False, duck_extra
    )


def _write_duck_and_summary(
    sf_dir: str,
    spark: dict[str, float],
    duck: dict[str, float],
    spark_src: str,
    authoritative: bool,
    repo: str,
    interleaved: bool,
    duck_extra: dict | None = None,
) -> None:
    duck_total = round(sum(duck.values()), 3)
    # persist per-query medians so ratio analysis across rounds reads
    # one artifact pair — same overwrite protection as bench.py: the
    # committed DUCK_DETAIL.json only updates when recording an
    # authoritative pair (--commit-detail / SPARK_GRAFT_BENCH_COMMIT),
    # and the consistency check above guarantees its spark mate is the
    # committed BENCH_DETAIL.json from this session
    duck_name = "DUCK_DETAIL.json" if authoritative else "DUCK_DETAIL.latest.json"
    duck_doc = {"sf_dir": sf_dir, "queries": duck, "interleaved": interleaved}
    if duck_extra:
        duck_doc.update(duck_extra)
    with open(os.path.join(repo, duck_name), "w") as f:
        json.dump(duck_doc, f, sort_keys=True)
    spark_common = {n: s for n, s in spark.items() if n in duck and s >= 0}
    spark_total = round(sum(spark_common.values()), 3)
    # the ratio must divide totals over the SAME query set: a query
    # missing/failed on the Spark side would otherwise still inflate the
    # DuckDB denominator and understate the ratio
    duck_common = round(sum(duck[n] for n in spark_common), 3)
    ratio = round(spark_total / duck_common, 2) if duck_common and spark_common else None
    floor_est = round(0.2 * len(spark_common), 1)  # ~0.2 s/query scheduling+codegen
    # a 0.0 DuckDB median (sub-ms oracle rounded away) means Spark is
    # MAXIMALLY slower relative to it — inf ranks it first; the old 0
    # buried exactly the floor-dominated cases this table surfaces (r8)
    worst = sorted(
        (
            (s / duck[n] if duck[n] > 0 else float("inf"), n, duck[n], s)
            for n, s in spark_common.items()
        ),
        reverse=True,
    )[:10]
    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "interleaved": interleaved,
                "n_queries": len(duck),
                "duckdb_total_sec": duck_total,
                "duckdb_common_total_sec": duck_common,
                "spark_total_sec": spark_total or None,
                "ratio_spark_over_duckdb": ratio,
                "spark_floor_estimate_sec": floor_est,
                "worst_ratios": [
                    # math.isinf guard: json.dumps would emit the
                    # non-standard Infinity literal strict parsers reject
                    {
                        "query": n,
                        "ratio": None if r == float("inf") else round(r, 1),
                        "duck": d,
                        "spark": s,
                    }
                    for r, n, d, s in worst
                ],
                "note": f"spark side read from {spark_src} - run bench.py back-to-back on an idle box",
            }
        )
    )


if __name__ == "__main__":
    main()
