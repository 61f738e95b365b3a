"""Benchmark runner for catlas_spark: the config-driven screen and a fixed
sample of the query registry.

    python3 perfbench/run.py --workload screen|registry \
        --seed N --seconds S --trace 0|1 [--smoke]

Run from the repository root. One process, one closed-loop client, one
session from ``session.get_spark(cpus=<usable cores>)``. Inputs are made
from ``--seed``; the timed window runs for ``--seconds`` (whole rounds for
the query workloads); outputs are checked outside the window. The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``). The line before it carries sample counts and the reasons
of any failed op.
"""

from __future__ import annotations

import time

T_LAUNCH = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import probes  # noqa: E402

# Sizes of each workload. The smoke variant runs the same code on tiny
# inputs (see smoke.py).
SIZES = {
    "screen": {"n_bulks": 200, "pool": 4, "warmup_ops": 3},
    "registry": {"sf": 0.01, "sample": 12, "warm_rounds": 4},
}
SMOKE_SIZES = {
    "screen": {"n_bulks": 50, "pool": 2, "warmup_ops": 1},
    "registry": {"sf": 0.001, "sample": 12, "warm_rounds": 0},
}
# The session's own 48g default exceeds a 15 GB VM's RAM (the kernel killed
# the JVM mid-run). 2g holds both workloads' inputs; with a larger cap G1
# grows the heap by a different amount each run (peak RSS 2.2-4.2 GB at 6g).
HEAP_CAP_BYTES = 2 * 1024**3
HEAP_SHARE_OF_RAM = 0.4  # leaves room for the Python workers and the OS

E2E_UNITS = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_p50_ms": "ms",
    "cpu_ms_per_op": "ms",
    "peak_rss_mb": "MB",
}


PER_LAYER_UNITS = {
    "session.start_s": "s",
    "config.load_ms": "ms",
    "queries.build_ms_p50": "ms",
    "queries.build_jobs_per_op": "count",
    "queries.plan_cache_hit_ratio": "ratio",
    "queries.op_ms_p90": "ms",
    "caching.entries_created_per_op": "count",
    "caching.entries_left_after_op": "count",
    "pipeline.build_ms": "ms",
    "pipeline.adslabs_per_op": "count",
    "pipeline.adslabs_per_s": "1/s",
    "pipeline.live_ratio": "ratio",
    "pipeline.python_run_ms_per_op": "ms",
    "pipeline.python_init_ms_per_op": "ms",
    "pipeline.python_boot_ms_per_op": "ms",
    "pipeline.python_bytes_sent_per_op": "B",
    "pipeline.python_bytes_received_per_op": "B",
    "lineage.summary_ms": "ms",
    "lineage.extra_jobs": "count",
    "sinks.write_ms": "ms",
    "sinks.bytes_written": "B",
    "sinks.files_written": "count",
    "spark.action_ms_p50": "ms",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.driver_gap_ms_per_op": "ms",
    "spark.task_run_ms_per_op": "ms",
    "spark.task_cpu_ms_per_op": "ms",
    "spark.shuffle_read_bytes_per_op": "B",
    "spark.shuffle_write_bytes_per_op": "B",
    "spark.spill_bytes_per_op": "B",
    "jvm.gc_ms_per_op": "ms",
    "jvm.jit_ms_per_op": "ms",
    "jvm.jit_ms_last_warmup_round": "ms",
    "trace.overhead_ms": "ms",
}


class Context:
    """What every op needs: the session, the probes, the scratch dir."""

    def __init__(self, spark, work: str):
        self.spark, self.work = spark, work
        self.probe = probes.SparkProbe(spark)
        # persist()/cache() calls on any DataFrame, counted in traced runs
        self.persist_calls = [0]

    def session_lost(self) -> bool:
        try:
            return bool(self.spark.sparkContext._jsc.sc().isStopped())
        except Exception:  # noqa: BLE001 - py4j gone means the JVM is gone
            return True

    def count_persists(self) -> None:
        cls = type(self.spark.range(1))
        counter = self.persist_calls
        for meth in ("persist", "cache"):
            orig = getattr(cls, meth)

            def wrapped(df, *a, _orig=orig, **kw):
                counter[0] += 1
                return _orig(df, *a, **kw)

            setattr(cls, meth, wrapped)


def _env(root: str, work: str) -> str:
    """Point every temp and spill path into ``work`` and bound the heap."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    heap_gb = max(1, min(HEAP_CAP_BYTES, int(probes.machine_mem_bytes() * HEAP_SHARE_OF_RAM)) >> 30)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_gb}g"
    # the session's own default JIT code-cache option, plus the JVM temp dir;
    # no perf-data file, which the JVM would otherwise write under /tmp
    os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = (
        f"-XX:ReservedCodeCacheSize=512m -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    )
    os.environ.pop("SCREEN_MAX_MILLER", None)
    os.environ.pop("SPARK_GRAFT_SF_DIR", None)
    return os.environ["SPARK_GRAFT_DRIVER_MEM"]


def _usable_cpus() -> int:
    return len(os.sched_getaffinity(0))


def _median(vals: list[float]) -> float:
    return statistics.median(vals) if vals else 0.0


def _p50(vals: list[float], label: str, notes: dict) -> float:
    """Median with its sample count noted; warns if too few lie beyond it."""
    got = probes.percentile(vals, 50)
    notes[label] = {"n": len(vals), "beyond": got[1] if got else len(vals) // 2}
    if got is None:
        print(f"perfbench: {label} from {len(vals)} samples, fewer than "
              f"{probes.MIN_BEYOND} beyond the median", file=sys.stderr)
        return _median(vals)
    return got[0]


# --------------------------------------------------------------------------
# timed loops
# --------------------------------------------------------------------------


class Window:
    """One timed window: op wall times, op failures, process-tree CPU."""

    def __init__(self):
        self.op_ms: list[float] = []
        self.ok: list[bool] = []
        self.names: list = []
        self.rows: list[dict] = []  # traced ops
        self.untraced_ms: list[float] = []
        self.errors: list[str] = []
        self.wall_s = 0.0
        self.cpu_s = 0.0

    def record(self, name, ms: float, ok: bool, row: dict | None, err: str | None):
        self.names.append(name)
        self.op_ms.append(ms)
        self.ok.append(ok)
        if row is not None:
            row["op_ms"] = ms
            self.rows.append(row)
        else:
            self.untraced_ms.append(ms)
        if err:
            self.errors.append(f"{name}: {err}")


def _run_op(ctx, wl, name, window: Window, row: dict | None) -> bool:
    """Run one op; returns False if the session is gone."""
    probe = ctx.probe
    if row is not None:
        probe.mark()
        jobs0, (gc0, jit0), wall0 = probe.next_job(), probe.jvm_ms(), time.time()
    t0 = time.perf_counter()
    err = None
    try:
        wl.op(name, row)
    except Exception as e:  # noqa: BLE001 - every failure is counted
        err = f"{type(e).__name__}: {str(e)[:300]}"
    ms = (time.perf_counter() - t0) * 1e3
    wall1 = time.time()
    if err is not None and ctx.session_lost():
        window.record(name, ms, False, None, "session lost: " + err)
        return False
    if row is not None and err is None:
        wl.after_op(row)
        jobs1 = probe.next_job()
        gc1, jit1 = probe.jvm_ms()
        intervals, stages = probe.jobs(jobs0, jobs1)
        row["spark.jobs"] = jobs1 - jobs0
        row["spark.stages"] = len(stages)
        row["jvm.gc_ms"] = gc1 - gc0
        row["jvm.jit_ms"] = jit1 - jit0
        covered = probes.covered_s(intervals, wall0, wall1)
        row["spark.driver_gap_ms"] = max(0.0, (wall1 - wall0) - covered) * 1e3
        for k, v in probe.stage_totals(stages).items():
            row[f"stage.{k}"] = v
        for k, v in probe.python_totals().items():
            row[f"stage.{k}"] = v
    window.record(name, ms, err is None, row, err)
    return True


def timed_window(ctx, wl, rounds, seconds: float, traced: bool) -> Window:
    """Whole rounds of ops until ``seconds`` have passed. A traced window
    traces every other op, so traced and untraced ops share one stretch of
    time and their latency difference is the tracing overhead."""
    w = Window()
    cpu0 = probes.tree_cpu_s(os.getpid())
    t0 = time.perf_counter()
    alive = True
    while alive and time.perf_counter() - t0 < seconds:
        for name in next(rounds):
            row = {} if traced and len(w.op_ms) % 2 == 0 else None
            alive = _run_op(ctx, wl, name, w, row)
            if not alive:
                break
    w.wall_s = time.perf_counter() - t0
    w.cpu_s = probes.tree_cpu_s(os.getpid()) - cpu0
    return w


# --------------------------------------------------------------------------
# workloads
# --------------------------------------------------------------------------


def prepare(args, ctx, sizes: dict, rng: random.Random, notes: dict):
    """Build inputs and warm up; returns (workload, round iterator, check fn).
    Query checks run here, before the window."""
    import workloads

    if args.workload == "screen":
        wl = workloads.ScreenWorkload(ctx, sizes["n_bulks"], sizes["pool"])
        sets = wl.sets(rng)
        warm_ms, jit_ms = [], []
        for _ in range(sizes["warmup_ops"]):
            jit0 = ctx.probe.jvm_ms()[1]
            t0 = time.perf_counter()
            wl.warm(next(sets)[0])
            warm_ms.append(round((time.perf_counter() - t0) * 1e3, 1))
            jit_ms.append(ctx.probe.jvm_ms()[1] - jit0)
        notes["warmup_op_ms"] = warm_ms
        notes["warmup_jit_ms"] = jit_ms
        golden = workloads.load_golden()

        def check(w: Window) -> None:
            for i, reason in wl.check(golden).items():
                w.ok[i] = False
                w.errors.append(f"op {i}: {reason}")

        return wl, sets, check

    import datagen
    from catlas_spark import queries as Q

    sf_dir = os.path.join(ctx.work, "star")
    t0 = time.perf_counter()
    datagen.write_star(sf_dir, sizes["sf"], args.seed)
    notes["datagen_s"] = round(time.perf_counter() - t0, 3)
    names = workloads.registry_sample(list(Q.queries()), sizes["sample"])
    wl = workloads.QueryWorkload(ctx, names, sf_dir)
    rounds = wl.rounds(rng)
    jit_rounds = []
    # a cold round, the checking round (row counts against the oracle, also
    # the first warm round), then untimed warm rounds
    round_s = []
    for kind in ["cold", "check"] + ["warm"] * sizes["warm_rounds"]:
        jit0 = ctx.probe.jvm_ms()[1]
        t0 = time.perf_counter()
        order = next(rounds)
        if kind == "check":
            bad = wl.check_round(order)
        else:
            for name in order:
                try:
                    wl.op(name, None)
                except Exception:  # noqa: BLE001 - the check round reports it
                    if ctx.session_lost():
                        raise
        jit_rounds.append(ctx.probe.jvm_ms()[1] - jit0)
        round_s.append(round(time.perf_counter() - t0, 3))
    notes["warmup_round_s"] = round_s
    notes["warmup_jit_ms"] = jit_rounds
    notes["check_failures"] = bad

    def check(w: Window) -> None:
        for j, name in enumerate(w.names):
            if name in bad:
                w.ok[j] = False
        w.errors.extend(f"{n}: {r}" for n, r in bad.items())

    return wl, rounds, check


def e2e_metrics(setup_s: float, w: Window, peak_rss: int, notes: dict) -> dict:
    n_ok = sum(w.ok)
    return {
        "setup_s": setup_s,
        "ops_per_s": n_ok / w.wall_s if w.wall_s > 0 else 0.0,
        "op_p50_ms": _p50(w.op_ms, "op_p50_ms", notes),
        "cpu_ms_per_op": w.cpu_s * 1e3 / max(1, len(w.op_ms)),
        "peak_rss_mb": peak_rss / 2**20,
    }


def layer_metrics(args, wl, w: Window, session_s: float, notes: dict,
                  jit_last: float) -> dict:
    rows = w.rows
    n = max(1, len(rows))

    def per_op(key: str) -> float:
        return sum(r.get(key, 0.0) for r in rows) / n

    m = dict.fromkeys(PER_LAYER_UNITS, 0.0)
    m["session.start_s"] = session_s
    m["spark.jobs_per_op"] = per_op("spark.jobs")
    m["spark.stages_per_op"] = per_op("spark.stages")
    m["spark.tasks_per_op"] = per_op("stage.tasks")
    m["spark.driver_gap_ms_per_op"] = per_op("spark.driver_gap_ms")
    for k in ("task_run_ms", "task_cpu_ms", "shuffle_read_bytes", "shuffle_write_bytes",
              "spill_bytes"):
        m[f"spark.{k}_per_op"] = per_op(f"stage.{k}")
    m["jvm.gc_ms_per_op"] = per_op("jvm.gc_ms")
    m["jvm.jit_ms_per_op"] = per_op("jvm.jit_ms")
    m["jvm.jit_ms_last_warmup_round"] = jit_last
    m["trace.overhead_ms"] = _p50(
        [r["op_ms"] for r in rows], "traced_op_p50_ms", notes
    ) - _p50(w.untraced_ms, "untraced_op_p50_ms", notes)
    if args.workload == "screen":
        m["config.load_ms"] = per_op("config.load_ms")
        m["pipeline.build_ms"] = per_op("pipeline.build_ms")
        m["lineage.summary_ms"] = per_op("lineage.summary_ms")
        m["lineage.extra_jobs"] = per_op("lineage.extra_jobs")
        m["sinks.write_ms"] = per_op("sinks.write_ms")
        m["spark.action_ms_p50"] = _p50(
            [r["sinks.write_ms"] for r in rows if "sinks.write_ms" in r], "action_p50", notes
        )
        # output sizes do not depend on tracing: taken over every op
        done = [e for e in wl.outputs if e is not None]
        adslabs, live, total, sink_b, sink_f = 0, 0, 0, 0, 0
        for _, out, lineage in done:
            summary = {s["stage"]: s for s in lineage.summary()}
            adslabs += summary["adslabs"]["rows"]
            live += summary["results"].get("live_rows", summary["results"]["rows"])
            total += summary["results"]["rows"]
            b, f = wl.sink_stats(out)
            sink_b += b
            sink_f += f
        n_done = max(1, len(done))
        m["pipeline.adslabs_per_op"] = adslabs / n_done
        m["pipeline.adslabs_per_s"] = adslabs / w.wall_s
        m["pipeline.live_ratio"] = live / total if total else 0.0
        m["sinks.bytes_written"] = sink_b / n_done
        m["sinks.files_written"] = sink_f / n_done
        for src, dst in (
            ("python_run_ms", "run_ms"),
            ("python_init_ms", "init_ms"),
            ("python_boot_ms", "boot_ms"),
            ("python_bytes_sent", "bytes_sent"),
            ("python_bytes_received", "bytes_received"),
        ):
            m[f"pipeline.python_{dst}_per_op"] = per_op(f"stage.{src}")
        return m
    m["queries.build_ms_p50"] = _p50([r["queries.build_ms"] for r in rows], "build_p50", notes)
    m["queries.build_jobs_per_op"] = per_op("queries.build_jobs")
    m["queries.plan_cache_hit_ratio"] = per_op("queries.plan_cache_hit")
    m["caching.entries_created_per_op"] = per_op("caching.entries_created")
    m["caching.entries_left_after_op"] = per_op("caching.entries_left")
    m["spark.action_ms_p50"] = _p50([r["spark.action_ms"] for r in rows], "action_p50", notes)
    p90 = probes.percentile(w.op_ms, 90)
    notes["op_p90_ms"] = {"n": len(w.op_ms), "beyond": p90[1] if p90 else None}
    if p90 is not None:
        m["queries.op_ms_p90"] = p90[0]
    return m


def run(args, root: str, work: str) -> dict:
    sizes = (SMOKE_SIZES if args.smoke else SIZES)[args.workload]
    notes: dict = {"workload": args.workload, "seed": args.seed, "sizes": sizes}
    notes["driver_memory"] = _env(root, work)
    print(f"perfbench: SPARK_GRAFT_DRIVER_MEM={notes['driver_memory']}", file=sys.stderr)
    rng = random.Random(args.seed)

    from catlas_spark.session import get_spark

    host0 = probes.host_cpu()
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=_usable_cpus())
    session_s = time.perf_counter() - t0
    notes["cores"] = spark.sparkContext.defaultParallelism
    ctx = Context(spark, work)
    with probes.RssPeak(os.getpid()) as rss:
        wl, seq, check = prepare(args, ctx, sizes, rng, notes)
        setup_s = time.perf_counter() - T_LAUNCH
        host1 = probes.host_cpu()
        notes["peak_rss_setup_mb"] = round(rss.peak / 2**20, 1)
        if args.trace:
            ctx.count_persists()
        w = timed_window(ctx, wl, seq, args.seconds, traced=bool(args.trace))
    notes["steal_share"] = {
        "setup": round(probes.steal_share(host0, host1), 4),
        "window": round(probes.steal_share(host1, probes.host_cpu()), 4),
    }
    notes["ops"] = len(w.op_ms)
    notes["window_s"] = round(w.wall_s, 3)
    notes["op_ms"] = [round(x, 1) for x in w.op_ms]
    if args.trace:
        jit = notes.get("warmup_jit_ms") or [0.0]
        metrics = layer_metrics(args, wl, w, session_s, notes, jit[-1])
        units = PER_LAYER_UNITS
    else:
        metrics = e2e_metrics(setup_s, w, rss.peak, notes)
        units = E2E_UNITS
    check(w)
    attempted, failed = len(w.ok), len(w.ok) - sum(w.ok)
    notes["errors"] = w.errors[:20]
    notes["error_rate"] = failed / attempted if attempted else 1.0
    print(json.dumps({"notes": notes}))
    return {
        "correct": failed == 0 and attempted > 0 and not w.errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }


def shutdown(timeout_s: float = 60.0) -> None:
    """Stop the session and the JVM, then wait until every process this run
    started (the JVM and its Python workers) has exited."""
    import signal

    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    kids = probes.tree_pids(os.getpid())[1:]
    active = SparkSession.getActiveSession()
    if active is not None:
        try:
            active.stop()
        except Exception:  # noqa: BLE001 - a dead JVM has nothing to stop
            pass
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001
            pass
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout_s)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    deadline = time.time() + timeout_s
    while True:
        alive = [p for p in kids if probes.alive(p)]
        if not alive:
            return
        if time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.time() + timeout_s
        time.sleep(0.1)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs (smoke.py)")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "catlas_spark", "session.py")):
        print("perfbench: run from the repository root (catlas_spark/ not found)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        result = run(args, root, work)
    finally:
        shutdown()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
