"""The workloads: what one op is, how inputs are prepared from the seed,
and how outputs are checked.

Every op drives the engine through its public entry points only:
``run.load_config`` → ``pipeline.run_screen`` → ``sinks.write_results`` →
``Lineage.summary``/``sankey`` for the screen, and each
``queries.queries()[name](spark, sf_dir)`` builder followed by a ``noop``
write for the registry.
"""

from __future__ import annotations

import gc
import glob
import json
import os
import random
import shutil
import weakref

import probes

HERE = os.path.dirname(os.path.abspath(__file__))
GOLDEN_SCREEN = os.path.join(HERE, "golden_screen.json")
SCREEN_CONFIG = os.path.join("configs", "example_screen.yml")

# the nine eager dedup-family builders, kept out of the registry sample
DEDUP = [
    "dedup_containment",
    "dedup_ngram_jaccard",
    "dedup_cluster_keep_best",
    "incremental_dedup_memo",
    "dedup_minhash_char",
    "dedup_minhash_lsh",
    "dedup_cluster_assign_lsh",
    "dedup_cluster_assign",
    "set_containment_prefix",
]
# fixed draw, independent of --seed, so every run times the same mix; the
# run seed changes the data and the order of each round
REGISTRY_SAMPLE_SEED = 20260101


def registry_sample(names: list[str], k: int) -> list[str]:
    pool = sorted(n for n in names if n not in DEDUP)
    return sorted(random.Random(REGISTRY_SAMPLE_SEED).sample(pool, k))


# --------------------------------------------------------------------------
# registry: whole seeded-shuffled rounds of query builders
# --------------------------------------------------------------------------


class QueryWorkload:
    """Ops are (builder call + noop write) over a fixed query list, run in
    whole rounds; each round is a seeded shuffle of the list."""

    def __init__(self, ctx, names: list[str], sf_dir: str):
        from catlas_spark import queries as Q

        self.ctx, self.names, self.sf_dir = ctx, names, sf_dir
        self.fns = Q.queries()
        self.oracles = Q.oracle_sql()
        self._prev: dict[str, weakref.ref] = {}

    def rounds(self, rng: random.Random):
        while True:
            order = list(self.names)
            rng.shuffle(order)
            yield order

    def op(self, name: str, row: dict | None) -> None:
        spark, probe = self.ctx.spark, self.ctx.probe
        if row is None:
            df = self.fns[name](spark, self.sf_dir)
            self._prev[name] = weakref.ref(df)
            df.write.format("noop").mode("overwrite").save()
            return
        self._cache0 = probe.cache_entries()
        persists0 = self.ctx.persist_calls[0]
        jobs0 = probe.next_job()
        with probes.timed(row, "queries.build_ms"):
            df = self.fns[name](spark, self.sf_dir)
        jobs1 = probe.next_job()
        row["queries.build_jobs"] = jobs1 - jobs0
        row["caching.entries_created"] = self.ctx.persist_calls[0] - persists0
        prev = self._prev.get(name)
        row["queries.plan_cache_hit"] = float(prev is not None and prev() is df)
        self._prev[name] = weakref.ref(df)
        with probes.timed(row, "spark.action_ms"):
            df.write.format("noop").mode("overwrite").save()

    def after_op(self, row: dict) -> None:
        """Traced runs, outside the op's time: cache entries left once the
        op's frame is dropped and collected."""
        gc.collect()
        row["caching.entries_left"] = self.ctx.probe.cache_entries() - self._cache0

    def expected_rows(self) -> dict[str, int]:
        """Row counts of the DuckDB oracle SQL over the same generated tables."""
        import duckdb

        from catlas_spark.sources.star import STAR_TABLES

        con = duckdb.connect()
        con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
        con.execute(f"SET temp_directory = '{os.environ['TMPDIR']}'")
        for t in STAR_TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')"
            )
        out = {}
        for name in self.names:
            out[name] = con.execute(
                f"SELECT count(*) FROM ({self.oracles[name]}) AS q"
            ).fetchone()[0]
        con.close()
        return out

    def check_round(self, order: list[str]) -> dict[str, str]:
        """Count each query's rows through the engine and compare with the
        oracle; returns {name: reason} for every query that fails."""
        expected = self.expected_rows()
        bad = {}
        for name in order:
            try:
                got = self.fns[name](self.ctx.spark, self.sf_dir).count()
            except Exception as e:  # noqa: BLE001 - any failure is an error
                bad[name] = f"{type(e).__name__}: {str(e)[:200]}"
                if self.ctx.session_lost():
                    raise
                continue
            if got != expected[name]:
                bad[name] = f"rows {got} != oracle {expected[name]}"
        return bad


# --------------------------------------------------------------------------
# screen: one op = one full config-driven screen of one bulk set
# --------------------------------------------------------------------------


def load_golden() -> dict:
    with open(GOLDEN_SCREEN) as f:
        return json.load(f)


class ScreenWorkload:
    """Each op screens one bulk set from a fixed pool of seeded sets
    (``fixtures.make_bulks``), read back from parquet as ``--bulks`` does.
    The run seed picks the order in which the pool is visited; every set's
    lineage counts are stored in golden_screen.json."""

    def __init__(self, ctx, n_bulks: int, pool: int):
        from catlas_spark.run import load_config  # noqa: F401 - import cost in setup
        from catlas_spark.sources import fixtures

        self.ctx, self.n_bulks, self.pool = ctx, n_bulks, pool
        self.paths = {}
        for k in range(pool):
            path = os.path.join(ctx.work, "bulks", f"set{k}")
            fixtures.make_bulks(ctx.spark, n_bulks, seed=self.set_seed(k)).write.parquet(path)
            self.paths[k] = path
        self.outputs: list[tuple[int, str, object] | None] = []

    @staticmethod
    def set_seed(k: int) -> int:
        return 1000 + k

    def sets(self, rng: random.Random):
        """One-op rounds: the pool's sets in seeded-shuffled passes."""
        while True:
            order = list(range(self.pool))
            rng.shuffle(order)
            for k in order:
                yield [k]

    def op(self, k: int, row: dict | None) -> None:
        """One timed op; its output stays on disk until check(). A failed op
        keeps its (empty) slot, so slots line up with the window's ops."""
        self.outputs.append(None)
        out = os.path.join(self.ctx.work, "screen_out", f"op{len(self.outputs) - 1}")
        self.outputs[-1] = (k, out, self.screen(k, row, out))

    def after_op(self, row: dict) -> None:
        pass

    def warm(self, k: int):
        """An untimed op whose output is dropped; returns its lineage."""
        out = os.path.join(self.ctx.work, "screen_out", "warmup")
        lineage = self.screen(k, None, out)
        shutil.rmtree(out, ignore_errors=True)
        return lineage

    def screen(self, k: int, row: dict | None, out: str):
        from catlas_spark.lineage import Lineage
        from catlas_spark.pipeline import run_screen
        from catlas_spark.plans.config import _active
        from catlas_spark.run import load_config, render_sankey
        from catlas_spark.sinks import snapshot_config, write_results
        from catlas_spark.sources import fixtures

        spark, probe = self.ctx.spark, self.ctx.probe
        with probes.timed(row, "config.load_ms"):
            config = load_config(SCREEN_CONFIG)
        bulks = spark.read.parquet(self.paths[k])
        adsorbates = fixtures.make_adsorbates(spark)
        context = {}
        if _active(config.get("bulk_filters", {}).get("filter_by_pourbaix_stability")):
            ids = [r.bulk_id for r in bulks.select("bulk_id").collect()]
            context["pourbaix"] = fixtures.make_pourbaix(spark, ids)
        lineage = Lineage()
        with probes.timed(row, "pipeline.build_ms"):
            result = run_screen(spark, config, bulks, adsorbates, context, lineage)
        os.makedirs(out, exist_ok=True)
        with probes.timed(row, "sinks.write_ms"):
            write_results(result, out, partition_by=["adsorbate_smiles"])
        snapshot_config(config, out)
        jobs0 = probe.next_job() if row is not None else 0
        with probes.timed(row, "lineage.summary_ms"):
            render_sankey(lineage, out)
        if row is not None:
            row["lineage.extra_jobs"] = probe.next_job() - jobs0
        return lineage

    def check(self, golden: dict) -> dict[int, str]:
        """{op index: failure reason} over the timed ops that completed;
        removes each op's output once checked."""
        import pyarrow.parquet as pq

        sets = golden[str(self.n_bulks)]
        bad = {}
        for i, entry in enumerate(self.outputs):
            if entry is None:  # the op raised and is already counted as failed
                continue
            k, out, lineage = entry
            summary = lineage.summary()
            if summary != sets[str(self.set_seed(k))]:
                bad[i] = f"lineage {summary} != golden"
            else:
                files = glob.glob(os.path.join(out, "results", "**", "*.parquet"), recursive=True)
                rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
                want = summary[-1]["rows"]
                if rows != want:
                    bad[i] = f"sink rows {rows} != lineage results rows {want}"
            shutil.rmtree(out, ignore_errors=True)
        return bad

    @staticmethod
    def sink_stats(out: str) -> tuple[int, int]:
        """(bytes, files) of the parquet part files a screen op wrote."""
        files = [
            f
            for f in glob.glob(os.path.join(out, "results", "**", "*"), recursive=True)
            if os.path.isfile(f) and os.path.basename(f).startswith("part-")
        ]
        return sum(os.path.getsize(f) for f in files), len(files)
