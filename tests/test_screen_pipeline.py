"""End-to-end tests of the screening pipeline (the reference's e2e shape:
config-driven screen over synthetic fixtures, SURVEY.md §5) plus unit
checks of the filter registry, enumeration determinism, soft-delete
cascade, lineage counts and config validation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from catlas_spark.lineage import Lineage
from catlas_spark.operators.filters import (
    BULK_FILTERS,
    apply_filters,
)
from catlas_spark.pipeline import (
    energy_prediction,
    enumerate_adslabs,
    enumerate_slabs,
    miller_indices,
    run_screen,
)
from catlas_spark.plans.config import ConfigError, validate_config
from catlas_spark.sources import fixtures

CONFIG = {
    "bulk_filters": {
        "filter_by_num_elements": [1, 2],
        "filter_by_object_size": 60,
        "filter_by_bulk_e_above_hull": 0.25,
        "filter_by_acceptable_elements": None,  # disabled (reference semantics)
    },
    "adsorbate_filters": {"filter_by_smiles": ["*H", "*CO"]},
    "enumerate_nuclearity": True,
    "slab_filters": {
        "filter_by_max_miller_index": 1,
        "filter_by_object_size": 150,
        "filter_by_broken_bonds": {"top_k": 2},
    },
    "adslab_prediction_steps": [
        {"step": "inference", "label": "dE_step1", "batch_size": 32},
        {
            "step": "filter_by_adsorption_energy_target",
            "label": "dE_step1",
            "adsorbate_smiles": ["*H"],
            "target_value": -1.0,
            "range_value": 1.0,
        },
        {"step": "inference", "label": "dE_step2", "anomaly_detection": True},
    ],
}


@pytest.fixture(scope="module")
def bulks(spark):
    return fixtures.make_bulks(spark, n=40)


@pytest.fixture(scope="module")
def adsorbates(spark):
    return fixtures.make_adsorbates(spark)


def test_fixtures_deterministic(spark):
    a = fixtures.make_bulks(spark, n=10).collect()
    b = fixtures.make_bulks(spark, n=10).collect()
    assert a == b


def test_miller_indices():
    assert miller_indices(1) == [(1, 0, 0), (1, 1, 0), (1, 1, 1)]
    assert len(miller_indices(2)) == 9


def test_filter_registry_semantics(spark, bulks):
    # None disables; unknown warns (not errors) — catlas/filters.py:39-41,135
    with pytest.warns(UserWarning, match="unknown filter"):
        out = apply_filters(
            bulks,
            {"filter_by_object_size": None, "no_such_filter": 1},
            BULK_FILTERS,
        )
    assert out.count() == bulks.count()


def test_pourbaix_semi_join(spark, bulks):
    ids = [r.bulk_id for r in bulks.select("bulk_id").collect()]
    pb = fixtures.make_pourbaix(spark, ids)
    out = apply_filters(
        bulks,
        {
            "filter_by_pourbaix_stability": {
                "max_decomposition_energy": 0.5,
                "pH_lower": 6.0,
                "pH_upper": 8.0,
                "V_lower": -0.5,
                "V_upper": 0.5,
            }
        },
        BULK_FILTERS,
        context={"pourbaix": pb},
    )
    n = out.count()
    assert 0 < n < bulks.count()  # both outcomes exercised
    # oracle: stable iff ANY grid point in window has decomp_e <= max
    expected = {
        r.bulk_id
        for r in pb.filter(
            (F.col("pH").between(6, 8))
            & (F.col("V").between(-0.5, 0.5))
            & (F.col("decomp_e") <= 0.5)
        )
        .select("bulk_id")
        .distinct()
        .collect()
    } & set(r.bulk_id for r in bulks.select("bulk_id").collect())
    got = {r.bulk_id for r in out.select("bulk_id").collect()}
    assert got == expected


def test_enumeration_shape_and_pushdown(spark, bulks):
    slabs = enumerate_slabs(bulks, max_miller=1)
    rows = slabs.select("slab_millers", "slab_max_miller_index", "slab_shift").collect()
    assert rows  # non-empty first (r8 tautology hunt: all() over [] is green)
    assert all(max(r.slab_millers) <= 1 for r in rows)  # R1 pushdown
    assert all(0.0 < r.slab_shift < 1.0 for r in rows)
    # deterministic
    again = enumerate_slabs(bulks, max_miller=1).collect()
    assert sorted(map(str, again)) == sorted(
        map(str, enumerate_slabs(bulks, max_miller=1).collect())
    )


def test_screen_end_to_end(spark, bulks, adsorbates):
    cfg = validate_config(CONFIG)
    lin = Lineage()
    result = run_screen(spark, cfg, bulks, adsorbates, lineage=lin)
    rows = result.collect()
    assert len(rows) > 0
    # lineage observed after the single action
    summary = {s["stage"]: s for s in lin.summary()}
    assert summary["bulks_in"]["rows"] == 40
    assert summary["bulks_filtered"]["rows"] <= 40
    assert summary["surfaces"]["rows"] > 0
    assert summary["results"]["rows"] == len(rows)

    # cascade semantics: soft-deleted rows have NULL step-2 energies (F20)
    dead = [r for r in rows if r.filter_reason is not None]
    live = [r for r in rows if r.filter_reason is None]
    assert dead and live  # both outcomes
    assert all(r.dE_step2 is None and r.min_dE_step2 is None for r in dead)
    assert all(r.dE_step2 is not None for r in live)
    # nuclearity feature present on every row (T4)
    assert all(len(r.nuclearity_info) > 0 for r in rows)
    # anomaly flags: gated by soft delete (T5 + F20)
    assert all(r.anomaly_detection_dE_step2 is None for r in dead)
    assert all(r.anomaly_detection_dE_step2 is not None for r in live)
    # group-EXISTS (F18/F19): every surface group is uniformly live or dead
    by_group = {}
    for r in rows:
        key = (r.bulk_id, tuple(r.slab_millers), r.slab_shift, r.slab_top)
        by_group.setdefault(key, set()).add(r.filter_reason is None)
    assert all(len(v) == 1 for v in by_group.values())
    # grouped min/argmin (A3): min equals the array min
    for r in live[:50]:
        assert r.min_dE_step1 == min(r.dE_step1)
        assert r.dE_step1[r.argmin_config_dE_step1] == r.min_dE_step1


def test_inference_deterministic_and_gated(spark, bulks, adsorbates):
    slabs = enumerate_slabs(bulks.limit(3), max_miller=1)
    adslabs = enumerate_adslabs(slabs, adsorbates.limit(2))
    a = energy_prediction(adslabs, "dE", batch_size=16).select("dE").collect()
    b = energy_prediction(adslabs, "dE", batch_size=7).select("dE").collect()
    # batch size must not change results (P6)
    assert [r.dE for r in a] == [r.dE for r in b]
    # energies live in the parity range [-4, 2]
    assert all(-4.0 <= e <= 2.0 for r in a for e in r.dE)


def test_config_validation_errors():
    with pytest.raises(ConfigError, match="top_k"):
        validate_config(
            {"slab_filters": {"filter_by_broken_bonds": {"top_k": 2, "top_proportion": 0.5}}}
        )
    with pytest.raises(ConfigError, match="dependency group"):
        validate_config(
            {"bulk_filters": {"filter_by_pourbaix_stability": {"pH_lower": 2.0}}}
        )
    with pytest.raises(ConfigError, match="before any inference"):
        validate_config(
            {
                "adslab_prediction_steps": [
                    {
                        "step": "filter_by_adsorption_energy",
                        "label": "dE",
                        "adsorbate_smiles": ["*H"],
                        "min_value": -1,
                        "max_value": 1,
                    }
                ]
            }
        )
    with pytest.raises(ConfigError, match="not a valid bulk id"):
        validate_config({"bulk_filters": {"filter_by_bulk_ids": ["xx-1"]}})
    # unknown filter names are rejected at validation (reference cerberus
    # grammar rejects unknown keys; the runtime dispatch loop only warns)
    with pytest.raises(ConfigError, match="unknown bulk filter"):
        validate_config({"bulk_filters": {"filter_by_bandgap": {"min_gap": 1}}})
    with pytest.raises(ConfigError, match="unknown keys"):
        validate_config(
            {"bulk_filters": {"filter_by_bulk_band_gap": {"lo": 0.1, "hi": 2.0}}}
        )


def test_element_groups_reference_grammar(spark, bulks):
    """F8: group names validate against the reference's legal set; alias
    spellings resolve; unknown groups warn at runtime (reference
    get_elements_in_groups behavior) but error in validate_config."""
    from catlas_spark.operators.filters import BULK_FILTERS, ELEMENT_GROUPS

    f = BULK_FILTERS["filter_by_element_groups"]
    tm = f(bulks, ["transition metal"], None).collect()
    assert tm  # non-empty first (r8 tautology hunt: all() over [] is green)
    assert all(
        set(r.bulk_elements) <= set(ELEMENT_GROUPS["transition metal"]) for r in tm
    )
    # alias spelling == canonical spelling (both non-empty — empty==empty
    # would pass with the filter deleting every bulk)
    a = {r.bulk_id for r in f(bulks, ["alkaline earth"], None).collect()}
    b = {r.bulk_id for r in f(bulks, ["alkaline"], None).collect()}
    assert a and a == b
    with pytest.warns(UserWarning, match="Group not implemented"):
        out = f(bulks, ["noble gas"], None)
    assert out.count() == 0  # empty allowed set matches nothing
    with pytest.raises(ConfigError, match="unknown groups"):
        validate_config({"bulk_filters": {"filter_by_element_groups": ["noble gas"]}})


def test_band_gap_filter_reference_grammar(spark, bulks):
    """F11: reference key spelling min_gap/max_gap (catlas/filters.py:116-129)
    must filter identically to the legacy lower/upper aliases."""
    from catlas_spark.operators.filters import BULK_FILTERS

    f = BULK_FILTERS["filter_by_bulk_band_gap"]
    ref = f(bulks, {"min_gap": 0.5, "max_gap": 2.0}, None).collect()
    legacy = f(bulks, {"lower": 0.5, "upper": 2.0}, None).collect()
    assert len(ref) > 0
    assert sorted(r.bulk_id for r in ref) == sorted(r.bulk_id for r in legacy)
    assert all(0.5 <= r.bulk_band_gap <= 2.0 for r in ref)
    # reference-style one-sided bound
    half = f(bulks, {"min_gap": 1.0}, None).collect()
    assert all(r.bulk_band_gap >= 1.0 for r in half)
    # neither spelling present: warn + no-op (reference behavior)
    with pytest.warns(UserWarning, match="not specified properly"):
        out = f(bulks, {}, None)
    assert out.count() == bulks.count()


def test_cli_end_to_end(spark, tmp_path, monkeypatch):
    """The bin/predictions.py-shaped CLI: config → screen → sinks."""
    from catlas_spark.run import main

    monkeypatch.setenv("SCREEN_MAX_MILLER", "1")
    out = str(tmp_path / "screen")
    rc = main(["configs/example_screen.yml", "--output", out, "--preview", "0"])
    assert rc == 0
    import json
    import os

    back = spark.read.parquet(os.path.join(out, "results"))
    assert back.count() > 0
    assert "bulk_structure" not in back.columns  # binary drop at sink
    sankey = json.load(open(os.path.join(out, "sankey.json")))
    assert sankey["sankey"]["nodes"][0] == "bulks_in"
    assert os.path.exists(os.path.join(out, "run_config.json"))


@pytest.mark.parametrize(
    "cfg_path", ["configs/test_enumeration_only.yml", "configs/test_relaxation_cascade.yml"]
)
def test_reference_ci_shaped_configs(spark, tmp_path, monkeypatch, cfg_path):
    """The reference's CI smoke screens (SURVEY §5: enumeration-only and
    relaxation-cascade shapes) must run end-to-end from YAML."""
    from catlas_spark.run import load_config
    from catlas_spark.pipeline import run_screen
    from catlas_spark.sources import fixtures

    monkeypatch.setenv("MEMO_DIR", str(tmp_path))
    cfg = load_config(cfg_path)
    out = run_screen(
        spark, cfg, fixtures.make_bulks(spark, n=30), fixtures.make_adsorbates(spark)
    )
    assert out.count() > 0


def test_parquet_schema_evolution_merge(spark, sf_dir, tmp_path):
    """Batches written before and after a column was added must read as
    ONE table with mergeSchema: old rows surface NULL for the new
    column, new rows carry it — the append-only ingest evolution story
    (explicit option, because schema merging costs a footer scan per
    file and is off by default)."""
    from pyspark.sql import functions as F

    out = str(tmp_path / "evolving")
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d.select("doc_id", "text").filter(F.col("doc_id") % 2 == 0).write.parquet(
        f"{out}/batch=1"
    )
    d.select(
        "doc_id", "text", F.length("text").alias("quality_score")
    ).filter(F.col("doc_id") % 2 == 1).write.parquet(f"{out}/batch=2")

    merged = spark.read.option("mergeSchema", "true").parquet(out)
    assert "quality_score" in merged.columns
    old = merged.filter(F.col("batch") == 1)
    new = merged.filter(F.col("batch") == 2)
    assert old.filter(F.col("quality_score").isNotNull()).count() == 0
    assert new.filter(F.col("quality_score").isNull()).count() == 0
    assert merged.count() == d.count()


def test_aqe_splits_skewed_join_partitions(spark, sf_dir):
    """With skew thresholds lowered to test scale, AQE must mark the
    sort-merge join as skew-handled (isSkew=true in the final adaptive
    plan) on a 50%-hot-key join — the runtime complement to the
    explicit salting operators (B2): at real scale the default 256 MB
    thresholds catch the same shape without query changes."""
    from pyspark.sql import functions as F

    # repartition first: AQE splits a skewed reducer partition at MAP
    # BLOCK granularity, so a single-mapper input (one small file = one
    # scan task) is unsplittable no matter how skewed — at scale the map
    # side is always wide; here we widen it explicitly
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").repartition(
        8, "l_orderkey"
    )
    # hot key: half the rows land on suppkey 7
    skewed = li.withColumn(
        "k",
        F.when(F.col("l_orderkey") % 2 == 0, F.lit(7)).otherwise(F.col("l_suppkey")),
    )
    dim = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        F.col("s_suppkey").alias("k"), "s_name"
    )
    old = {
        c: spark.conf.get(c)
        for c in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.shuffle.partitions",
            "spark.sql.adaptive.enabled",
        )
    }
    try:
        # the join's own width and AQE, not whatever a prior test left
        # set: with 2 reducers no partition can reach 2x the median
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        j = skewed.join(dim, "k")
        j.collect()  # execute THIS DataFrame's QueryExecution so the
        # adaptive plan below is the final one (a writer would execute a
        # copy and leave this plan isFinalPlan=false)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan  # SortMergeJoin(skew=true)
        assert "skewed" in plan  # AQEShuffleRead ... skewed
    finally:
        for c, v in old.items():
            spark.conf.set(c, v)


def test_cli_preview_on_stepless_config(spark, tmp_path, monkeypatch):
    """--preview on an enumeration-only config (no inference steps, so
    no filter_reason column) crashed with UNRESOLVED_COLUMN after the
    results were already written (r8 review); the preview also now reads
    the written parquet back instead of re-executing the cascade."""
    from catlas_spark.run import main

    out = str(tmp_path / "stepless")
    rc = main(["configs/test_enumeration_only.yml", "--output", out, "--preview", "3"])
    assert rc == 0


def test_load_config_rejects_missing_env_var(tmp_path):
    """The lenient Jinja2 default rendered a missing env var as an empty
    string — `{{ DATA_DIR }}/bulks` silently became `/bulks` (r8
    review). Non-defaulted lookups now fail loudly; `| default(...)`
    stays the opt-in."""
    import jinja2
    import pytest

    from catlas_spark.run import load_config

    cfg = tmp_path / "bad.yml"
    cfg.write_text(
        "bulk_filters:\n  filter_by_num_elements: [{{ NOT_A_REAL_ENV_VAR_XYZ }}]\n"
    )
    with pytest.raises(jinja2.UndefinedError):
        load_config(str(cfg))
    ok = tmp_path / "ok.yml"
    ok.write_text(
        "bulk_filters:\n"
        "  filter_by_num_elements: [{{ NOT_A_REAL_ENV_VAR_XYZ | default(2) }}]\n"
    )
    assert load_config(str(ok))["bulk_filters"]["filter_by_num_elements"] == [2]


def test_sankey_links_use_live_rows(spark):
    """Soft-delete stages keep `rows` constant (group_exists_mark sets
    filter_reason without dropping), so links must prefer live_rows or
    screening attrition is invisible (r8 review)."""
    from catlas_spark.lineage import Lineage

    lin = Lineage()
    lin.summary = lambda: [
        {"stage": "in", "rows": 100},
        {"stage": "marked", "rows": 100, "live_rows": 40},
        {"stage": "out", "rows": 100, "live_rows": 10},
    ]
    links = lin.sankey()["links"]
    assert [l["value"] for l in links] == [40, 10]


def test_validate_config_rejects_degenerate_pourbaix_conditions():
    """r8 review: conditions: [] passed validation (all() over empty is
    True) and died as a runtime ValueError mid-pipeline; a non-mapping
    entry raised TypeError instead of ConfigError."""
    import pytest

    from catlas_spark.plans.config import ConfigError, validate_config

    base = {"bulk_filters": {"filter_by_pourbaix_stability": {"conditions": []}}}
    with pytest.raises(ConfigError, match="NON-EMPTY"):
        validate_config(base)
    base["bulk_filters"]["filter_by_pourbaix_stability"]["conditions"] = [3]
    with pytest.raises(ConfigError, match="NON-EMPTY"):
        validate_config(base)


def test_cli_preview_survives_all_filtered_screen(spark, tmp_path):
    """r8 diff review: a partitionBy write of ZERO rows produces no data
    files, and the read-back preview raised UNABLE_TO_INFER_SCHEMA — an
    all-filtered screen must exit 0 after writing its (empty) sinks."""
    from catlas_spark.run import main

    cfg = tmp_path / "allfiltered.yml"
    cfg.write_text(
        "bulk_filters:\n  filter_by_bulk_ids: ['mp-999999999']\n"
        "adslab_prediction_steps: []\n"
    )
    out = str(tmp_path / "empty_screen")
    rc = main([str(cfg), "--output", out, "--preview", "3"])
    assert rc == 0
