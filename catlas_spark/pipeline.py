"""The screening pipeline: enumeration TVFs, batched inference with
soft-delete gating, and the config-driven cascade executor.

Reference lifecycle being re-expressed (SURVEY.md §3.1,
`bin/predictions.py:37-85`):

    bulks → filter chain → enumerate_slabs (T1 flatMap) → slab filters
    (grouped top-k / best-shift) → × adsorbates (J1 cross join, small
    side broadcast) → enumerate_adslabs (T2, kept as array column) →
    [inference | group-EXISTS filter]* cascade (R3) → grouped min (A3)
    → sinks + lineage.

Spark-first choices:
- Enumeration is NATIVE (explode over generated arrays): the reference's
  Python TVF exists to call pymatgen; the deterministic surrogate needs
  no Python, so the whole fan-out stays in whole-stage codegen and
  Catalyst sees cardinalities. The miller-index cap is a parameter of
  the source, not a post-filter (R1 pushdown, reference
  catlas/prediction_steps.py:227-231).
- Inference is a mapInArrow with an executor-singleton model (P5,
  reference BOCPP_dict catlas/adslab_predictions.py:22,260-272) and
  micro-batching (P6, :287-292). It reads three Arrow arrays and appends
  the energy column to each batch, so the carried columns (structures,
  maps, arrays) never round-trip through pandas. Rows already
  soft-deleted skip the model and emit NULL energies (F20, :275-282).
  The model is reached through the module-level ``_model``: cloudpickle
  pickles that by reference, so every task in a worker process shares
  one cache. (A closure that read the cache dict directly would carry a
  pickled copy of it, one fresh cache and one model load per task.)
- Per-row energy arrays stay ARRAY columns; grouped min/argmin is
  array_min + array_position (A3, :324-337) — no explode/shuffle.
- Every Python evaluation costs each op a fixed per-task floor, so an
  Arrow feature column no native operator reads (``ArrowFeature``: the
  T4 nuclearity map) gets no mapInArrow of its own. ``run_screen``
  carries it to the next inference step's mapInArrow, which inserts it
  before scoring; only before a memoized step, or when no inference step
  follows, does it run in a mapInArrow of its own (``add_features``).
  The example config runs two Python evaluations per op.

Build shape: ``run_screen`` is lazy, so its cost is plan construction
over py4j. Each stage adds its columns in one SQL-text projection
(``selectExpr`` / ``withColumns`` of ``F.expr``, see ``sqltext``), never
one ``withColumn`` per column, and higher-order functions are written as
SQL lambdas, never Python lambdas (each of those creates its lambda
variables over py4j). tests/test_screen_plan.py holds the build to a
py4j command budget, the executed plan to its node counts (two
MapInArrow) and the result to recorded fingerprints.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence
from typing import Any, NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import sqltext
from .lineage import Lineage, attach_counter
from .operators.filters import (
    ADSORBATE_FILTERS,
    BULK_FILTERS,
    SLAB_FILTERS,
    adsorption_energy_filter,
    adsorption_energy_target_filter,
    apply_filters,
)
from .operators.relational import soft_delete_gate
from .operators.structure import (
    NUCLEARITY_SCHEMA,
    anomaly_flags,
    attach_surrogate_graph,
    nuclearity_column,
)


# F20 gating of struct-valued features lives in
# operators.relational.soft_delete_gate (a missing .otherwise is the
# same implicit NULL) — no pipeline-local copy to drift


# ---------------------------------------------------------------------------
# T1: slab enumeration (deterministic surrogate of
#     catlas/enumerate_slabs_adslabs.py:31-78 + enumeration_utils.py:21-68)
# ---------------------------------------------------------------------------


def miller_indices(max_miller: int) -> list[tuple[int, int, int]]:
    """Symmetrically-distinct surrogate: h ≥ k ≥ l ≥ 0, h > 0, h ≤ max."""
    out = []
    for h in range(1, max_miller + 1):
        for k in range(h + 1):
            for l in range(k + 1):  # noqa: E741
                out.append((h, k, l))
    return out


def enumerate_slabs(bulks: DataFrame, max_miller: int = 2) -> DataFrame:
    """bulk row → N surface rows. Parent bulk columns are carried on every
    slab row for free (explode keeps them — the reference deep-copies
    dicts for the same denormalized lineage, J5).

    max_miller is a parameter of the enumeration, not a post-filter
    (R1: the one pushdown Catalyst cannot do into a generator).

    Four SQL-text projections: one per generator (Spark allows one per
    SELECT), then the derived per-surface columns.
    """
    millers = ", ".join(
        f"struct(array({h}, {k}, {l}) AS slab_millers, {h} AS slab_max_miller_index)"
        for (h, k, l) in miller_indices(max_miller)
    )
    n_term = "(1 + pmod(bulk_natoms, 3))"
    key = "bulk_id, slab_millers, slab_shift, slab_top"

    def score(tag: str) -> str:
        """round(10 * a deterministic double in [0, 1), 6)"""
        return f"round(pmod(xxhash64({key}, '{tag}'), 1000000) / 1000000.0D * 10.0D, 6)"

    return (
        bulks.selectExpr("*", f"inline(array({millers}))")
        # terminations: shift grid (i+1)/(n_term+1), 2-decimal (FIXTURES.md §3)
        .selectExpr(
            "*",
            f"explode(transform(sequence(1, {n_term}), "
            f"i -> round(CAST(i AS DOUBLE) / ({n_term} + 1), 2))) AS slab_shift",
        )
        # non-z-invertible surfaces also emit the flipped bottom
        # (enumeration_utils.py:71-125)
        .selectExpr(
            "*",
            "explode(CASE WHEN pmod(xxhash64(bulk_id, slab_millers, slab_shift), 2) = 0 "
            "THEN array(true) ELSE array(true, false) END) AS slab_top",
        )
        .selectExpr(
            "*",
            f"CAST(10 + pmod(xxhash64({key}), 191) AS INT) AS slab_natoms",
            f"{score('bb')} AS slab_score_bb",
            f"{score('sd')} AS slab_score_sd",
            "bulk_structure AS slab_structure",
        )
    )


# ---------------------------------------------------------------------------
# J1 + T2: cross join and adslab enumeration
#          (catlas/prediction_steps.py:271; enumerate_slabs_adslabs.py:81-122)
# ---------------------------------------------------------------------------


def enumerate_adslabs(surfaces: DataFrame, adsorbates: DataFrame) -> DataFrame:
    """surfaces × adsorbates (small side broadcast), plus the per-pair
    placement-configuration ids as an ARRAY column. The array is NOT
    exploded — batched inference and grouped min consume whole groups
    (reference keeps list[Atoms] per row for the same reason, T2 note).
    """
    combo = surfaces.crossJoin(F.broadcast(adsorbates))
    return combo.selectExpr("*", "sequence(0, 1 + pmod(slab_natoms, 8) - 1) AS config_ids")


# ---------------------------------------------------------------------------
# Arrow feature columns, computed inside the next Arrow step's mapInArrow
# ---------------------------------------------------------------------------


class ArrowFeature(NamedTuple):
    """A feature column that ``compute`` derives from one Arrow batch on
    its own, inserted right after the column ``after``."""

    field: T.StructField
    after: str
    compute: Callable[[pa.RecordBatch], pa.Array]


# T4 nuclearity feature map (reference prediction_steps.py:232-247)
NUCLEARITY = ArrowFeature(
    T.StructField("nuclearity_info", NUCLEARITY_SCHEMA, True), "bond_edges", nuclearity_column
)


def _feature_schema(schema: T.StructType, features: Sequence[ArrowFeature]) -> T.StructType:
    fields = list(schema.fields)
    for f in features:
        fields.insert([x.name for x in fields].index(f.after) + 1, f.field)
    return T.StructType(fields)


def _add_feature_columns(
    batch: pa.RecordBatch, features: Sequence[ArrowFeature]
) -> pa.RecordBatch:
    for f in features:
        at = batch.schema.get_field_index(f.after) + 1
        batch = batch.add_column(at, f.field.name, f.compute(batch))
    return batch


def add_features(df: DataFrame, features: Sequence[ArrowFeature]) -> DataFrame:
    """``df`` with the ``features`` columns, computed by one mapInArrow
    (none when there are no features). The other columns pass through as
    Arrow buffers."""
    if not features:
        return df

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            yield _add_feature_columns(batch, features)

    return df.mapInArrow(run, _feature_schema(df.schema, features))


# ---------------------------------------------------------------------------
# Batched inference (deterministic surrogate of energy_prediction,
# catlas/adslab_predictions.py:217-362)
# ---------------------------------------------------------------------------

# executor-singleton model cache (P5): one entry per checkpoint per
# Python worker process — survives across Arrow batches and tasks.
_MODEL_CACHE: dict[str, "_SurrogateModel"] = {}


class _SurrogateModel:
    """Deterministic stand-in for the reference's BatchOCPPredictor
    (catlas/adslab_predictions.py:59-113): energies are a splitmix64
    stream of the row seed, mapped into [-4, 2] eV (the parity-plot range,
    parity_utils.py:237-238). Swap for a torch checkpoint on a real
    cluster — the Spark plumbing does not change.
    """

    def __init__(self, checkpoint: str):
        self.checkpoint = checkpoint

    def predict(self, seeds: np.ndarray, counts: np.ndarray) -> list[np.ndarray]:
        flat_seed = np.repeat(seeds.astype(np.uint64), counts)
        offsets = np.concatenate([np.arange(c, dtype=np.uint64) for c in counts])
        x = flat_seed + offsets
        # splitmix64 finalizer (public-domain PRNG mixing constants)
        x = (x + np.uint64(0x9E3779B97F4A7C15)) & np.uint64(0xFFFFFFFFFFFFFFFF)
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        x = x ^ (x >> np.uint64(31))
        unit = x.astype(np.float64) / float(2**64)
        energies = -4.0 + 6.0 * unit
        return np.split(energies, np.cumsum(counts)[:-1])


def _model(checkpoint: str) -> _SurrogateModel:
    """The worker's model for ``checkpoint``, loaded once per Python worker
    process (P5). It is a module-level function, so the pickled scorer
    reaches this module's cache by reference. A closure reading
    ``_MODEL_CACHE`` itself is pickled with a copy of the dict, and every
    task would then load its own model."""
    model = _MODEL_CACHE.get(checkpoint)
    if model is None:
        model = _MODEL_CACHE[checkpoint] = _SurrogateModel(checkpoint)
    return model


def _scorer(
    features: Sequence[ArrowFeature], step_label: str, checkpoint: str, batch_size: int
):
    """The mapInArrow function of one inference step: it first inserts
    the pending ``features`` (on every row, live or soft-deleted), then
    scores: NULL energies for soft-deleted rows (F20), ``batch_size``
    micro-batches (P6).

    It reads three Arrow arrays (``__seed``, ``filter_reason`` and the
    lengths of ``config_ids``) and appends the energies to the incoming
    batch, so the carried columns pass through as Arrow buffers, never
    converted to Python or pandas."""

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        model = _model(checkpoint)
        for batch in batches:
            batch = _add_feature_columns(batch, features)
            live = batch.column("filter_reason").is_null().to_numpy(zero_copy_only=False)
            counts = np.where(
                live,
                pc.list_value_length(batch.column("config_ids")).fill_null(0).to_numpy(),
                0,
            )
            idx = np.flatnonzero(live)
            seeds = batch.column("__seed").to_numpy().view(np.uint64)[idx]
            values = [np.empty(0, np.float64)]
            for start in range(0, len(idx), batch_size):  # micro-batching (P6)
                part = slice(start, start + batch_size)
                values.extend(model.predict(seeds[part], counts[idx[part]]))
            energies = pa.ListArray.from_arrays(
                pa.array(np.concatenate([[0], np.cumsum(counts)]), pa.int32()),
                pa.array(np.round(np.concatenate(values), 6), pa.float64()),
                mask=pa.array(~live),
            )
            yield batch.append_column(step_label, energies)

    return run


def energy_prediction(
    df: DataFrame,
    step_label: str,
    checkpoint: str = "surrogate-v1",
    batch_size: int = 64,
    gpu: bool = False,
    features: Sequence[ArrowFeature] = (),
) -> DataFrame:
    """Add ``<label>`` (array<double>), ``min_<label>`` and
    ``argmin_config_<label>`` columns via Arrow-batched inference, after
    the ``features`` columns, which the same mapInArrow computes.

    - Soft-deleted rows (filter_reason set) skip the model and get NULL
      result columns (F20).
    - The model is an executor-singleton (P5); rows are scored in
      ``batch_size`` micro-batches inside each Arrow batch (P6).
    - min/argmin are native array_min/array_position afterwards (A3) —
      no second Python stage, no shuffle.
    """
    added = {
        "__seed": F.expr(
            "xxhash64(bulk_id, slab_millers, slab_shift, slab_top, adsorbate_smiles, "
            f"{sqltext.lit(step_label)})"
        )
    }
    if "filter_reason" not in df.columns:
        added["filter_reason"] = F.expr("CAST(NULL AS STRING)")
    with_seed = df.withColumns(added)

    out_schema = T.StructType(
        list(_feature_schema(with_seed.schema, features).fields)
        + [T.StructField(step_label, T.ArrayType(T.DoubleType()), True)]
    )

    # GPU steps get a ResourceProfile pinning this stage to GPU executors
    # (P1/R8); local mode / CPU clusters fall through to the plain path.
    from .resources import inference_profile, map_with_profile

    profile = inference_profile(df.sparkSession) if gpu else None
    run = _scorer(features, step_label, checkpoint, batch_size)
    scored = map_with_profile(with_seed, run, out_schema, profile).drop("__seed")
    energies = sqltext.ident(step_label)
    min_e = f"array_min({energies})"
    return scored.withColumns(
        {
            f"min_{step_label}": F.expr(min_e),
            f"argmin_config_{step_label}": F.expr(
                f"CASE WHEN {min_e} IS NOT NULL "
                f"THEN CAST(array_position({energies}, {min_e}) AS INT) - 1 END"
            ),
        }
    )


def memoized_energy_prediction(
    spark: SparkSession, df: DataFrame, step: dict[str, Any]
) -> DataFrame:
    """Inference with the memo-table (R4): results keyed by the surface +
    adsorbate identity and the step/checkpoint version; re-runs serve
    hits from parquet and compute only new keys.

    Cache-poisoning guard: only LIVE rows are memoized — soft-deleted
    rows skip compute (F20) and get NULL result columns directly, so a
    row filtered in one run can never store NULLs under the key a live
    run would read (the reference's ignore-args pitfall, SURVEY §7.3).
    """
    from .memo import memoize

    label = step["label"]
    if "filter_reason" not in df.columns:
        df = df.withColumn("filter_reason", F.expr("CAST(NULL AS STRING)"))
    live = df.filter("filter_reason IS NULL")
    dead = df.filter("filter_reason IS NOT NULL")

    def compute(part: DataFrame) -> DataFrame:
        return energy_prediction(
            part,
            label,
            checkpoint=step.get("checkpoint", "surrogate-v1"),
            batch_size=int(step.get("batch_size", 64)),
            gpu=bool(step.get("gpu", False)),
        )

    key_cols = [
        "bulk_id", "slab_millers", "slab_shift", "slab_top",
        "adsorbate_smiles", "config_ids",
    ]
    version = f"{label}:{step.get('checkpoint', 'surrogate-v1')}:v1"
    # pin_input=True: this input is exactly memoize's documented
    # "expensive derived plan" case — in a multi-step cascade it carries
    # the PREVIOUS step's Arrow inference lineage, which the memo's
    # append action plus both serving joins would otherwise re-execute
    # 3-4x per step (r8 review)
    live_out = memoize(
        spark, live, key_cols, compute, step["memo_table"], version, pin_input=True
    )
    dead_out = dead.withColumns(
        {
            label: F.expr("CAST(NULL AS ARRAY<DOUBLE>)"),
            f"min_{label}": F.expr("CAST(NULL AS DOUBLE)"),
            f"argmin_config_{label}": F.expr("CAST(NULL AS INT)"),
        }
    )
    return live_out.unionByName(dead_out)


# ---------------------------------------------------------------------------
# Cascade executor (R3: multi-fidelity steps, bin/predictions.py:56-77)
# ---------------------------------------------------------------------------


def run_screen(
    spark: SparkSession,
    config: dict[str, Any],
    bulks: DataFrame,
    adsorbates: DataFrame,
    context: dict | None = None,
    lineage: Lineage | None = None,
) -> DataFrame:
    """Execute a validated screen config end-to-end; returns the lazy
    result DataFrame (callers choose the sink/action)."""
    ctx = dict(context or {})
    lin = lineage if lineage is not None else Lineage()

    b = attach_counter(bulks, "bulks_in", lin)
    b = apply_filters(b, config.get("bulk_filters", {}), BULK_FILTERS, ctx)
    b = attach_counter(b, "bulks_filtered", lin)

    a = apply_filters(adsorbates, config.get("adsorbate_filters", {}), ADSORBATE_FILTERS, ctx)

    # None / "None" disables a filter per the filters-module convention;
    # slab enumeration still needs a bound, so a disabled miller filter
    # falls back to the default 2 instead of crashing int()
    raw_mm = config.get("slab_filters", {}).get("filter_by_max_miller_index", 2)
    max_miller = 2 if raw_mm in (None, "None") else int(raw_mm)
    slabs = enumerate_slabs(b, max_miller=max_miller)
    slab_conf = {
        k: v
        for k, v in config.get("slab_filters", {}).items()
        if k != "filter_by_max_miller_index"  # pushed into the source (R1)
    }
    slabs = apply_filters(slabs, slab_conf, SLAB_FILTERS, ctx)
    # Arrow features no native operator reads, waiting for the next
    # Arrow step's mapInArrow
    features: list[ArrowFeature] = []
    if config.get("enumerate_nuclearity"):
        slabs = attach_surrogate_graph(slabs)
        features.append(NUCLEARITY)
    slabs = attach_counter(slabs, "surfaces", lin)

    adslabs = enumerate_adslabs(slabs, a)
    adslabs = attach_counter(adslabs, "adslabs", lin)

    for step in config.get("adslab_prediction_steps", []):
        kind = step["step"]
        if kind == "inference":
            if step.get("memo_table"):
                # memo hits and soft-deleted rows skip the step's compute
                adslabs = memoized_energy_prediction(
                    spark, add_features(adslabs, features), step
                )
            else:
                adslabs = energy_prediction(
                    adslabs,
                    step["label"],
                    checkpoint=step.get("checkpoint", "surrogate-v1"),
                    batch_size=int(step.get("batch_size", 64)),
                    gpu=bool(step.get("gpu", False)),
                    features=features,
                )
            features = []
            if step.get("anomaly_detection"):
                # T5: relaxation steps flag dissociation/desorption/
                # reconstruction by comparing initial vs relaxed
                # connectivity (flag_systems.py:40-96). Surrogate final
                # edges = initial minus hash-selected bonds.
                if "bond_edges" not in adslabs.columns:
                    adslabs = attach_surrogate_graph(adslabs)
                final_edges = (
                    "filter(bond_edges, e -> pmod(xxhash64(bulk_id, adsorbate_smiles, "
                    f"{sqltext.lit(step['label'])}, element_at(e, 1)), 4) > 0)"
                )
                ads_nodes = (
                    "CAST(sequence(0, pmod(xxhash64(adsorbate_smiles), 2)) AS ARRAY<INT>)"
                )
                adslabs = adslabs.withColumn(
                    f"anomaly_detection_{step['label']}",
                    soft_delete_gate(
                        adslabs, anomaly_flags("bond_edges", final_edges, ads_nodes)
                    ),
                )
        elif kind == "filter_by_adsorption_energy":
            adslabs = adsorption_energy_filter(
                adslabs,
                step["label"],
                list(step["adsorbate_smiles"]),
                float(step["min_value"]),
                float(step["max_value"]),
                step.get("hash_columns"),
            )
        elif kind == "filter_by_adsorption_energy_target":
            adslabs = adsorption_energy_target_filter(
                adslabs,
                step["label"],
                list(step["adsorbate_smiles"]),
                float(step["target_value"]),
                float(step.get("range_value", 0.5)),
                step.get("hash_columns"),
            )
        else:
            raise ValueError(f"unknown step kind {kind!r}")

    return attach_counter(add_features(adslabs, features), "results", lin)
