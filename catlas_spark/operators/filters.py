"""Config-driven filter registry — the engine's query surface.

Mirrors the reference's dispatch loop semantics (`bulk_filter`,
`catlas/filters.py:15-179`): filters apply in config order; a value of
None / "None" disables a filter (`catlas/filters.py:39-41`); an unknown
filter name warns rather than errors (`catlas/filters.py:135`). Each
filter is a pure DataFrame→DataFrame transform built from native Column
expressions, so Catalyst can push the cheap predicates into the parquet
scan ahead of expensive ones (the reference relies on YAML ordering for
this — SURVEY.md §4 R2).
"""

from __future__ import annotations

import warnings
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sqltext import ident, lit, lit_list
from .relational import (
    best_within_relative_threshold,
    group_exists_mark,
    grouped_top_proportion,
    grouped_topk,
)

FilterFn = Callable[[DataFrame, Any, dict], DataFrame]

# Static element-group tables (public periodic-table facts), matching
# pymatgen's Element predicates element-for-element — the reference
# resolves groups through those predicates (`get_elements_in_groups`,
# catlas/filter_utils.py:145-169), so a static map gives identical
# semantics without the dependency:
# - is_transition_metal: Z in 21-30, 39-48, 57-80, 89-112
# - is_rare_earth_metal: lanthanoids (57-71) + actinoids (89-103)
# - is_post_transition_metal: Al Ga In Tl Sn Pb Bi Po
_LANTHANOIDS = [
    "La", "Ce", "Pr", "Nd", "Pm", "Sm", "Eu", "Gd", "Tb", "Dy",
    "Ho", "Er", "Tm", "Yb", "Lu",
]
_ACTINOIDS = [
    "Ac", "Th", "Pa", "U", "Np", "Pu", "Am", "Cm", "Bk", "Cf",
    "Es", "Fm", "Md", "No", "Lr",
]
ELEMENT_GROUPS: dict[str, list[str]] = {
    "transition metal": [
        "Sc", "Ti", "V", "Cr", "Mn", "Fe", "Co", "Ni", "Cu", "Zn",
        "Y", "Zr", "Nb", "Mo", "Tc", "Ru", "Rh", "Pd", "Ag", "Cd",
        *_LANTHANOIDS,
        "Hf", "Ta", "W", "Re", "Os", "Ir", "Pt", "Au", "Hg",
        *_ACTINOIDS,
        "Rf", "Db", "Sg", "Bh", "Hs", "Mt", "Ds", "Rg", "Cn",
    ],
    "rare earth metal": [*_LANTHANOIDS, *_ACTINOIDS],
    "alkali": ["Li", "Na", "K", "Rb", "Cs", "Fr"],
    "alkaline": ["Be", "Mg", "Ca", "Sr", "Ba", "Ra"],
    "metalloid": ["B", "Si", "Ge", "As", "Sb", "Te", "Po"],
    "post-transition metal": ["Al", "Ga", "In", "Tl", "Sn", "Pb", "Bi", "Po"],
    "halogen": ["F", "Cl", "Br", "I", "At"],
    "chalcogen": ["O", "S", "Se", "Te", "Po"],
}
# reference name aliases (catlas/filter_utils.py:161: "alkaline" or
# "alkali earth"; we also keep the common "alkaline earth" spelling)
ELEMENT_GROUP_ALIASES: dict[str, str] = {
    "alkali earth": "alkaline",
    "alkaline earth": "alkaline",
}


def _in(col: str, values) -> str:
    """``col IN (values)`` as SQL text; an empty list matches nothing."""
    return f"{col} IN ({lit_list(values)})" if values else "false"


def _subset_of(col: str, allowed: list[str]) -> str:
    """array ⊆ allowed (F3 pattern)."""
    return f"size(array_except({col}, array({lit_list(allowed)}))) = 0"


# --- bulk filters (reference F1-F12, catlas/filters.py:42-132) -------------


def _by_bulk_ids(df, v, _):
    return df.filter(_in("bulk_id", list(v)))


def _ignore_bulk_ids(df, v, _):
    return df.filter(f"NOT ({_in('bulk_id', list(v))})")


def _acceptable_elements(df, v, _):
    return df.filter(_subset_of("bulk_elements", list(v)))


def _num_elements(df, v, _):
    return df.filter(_in("bulk_nelements", list(v)))


def _required_elements(df, v, _):
    # array_except, not size(array_intersect) == size(req): intersect
    # returns DISTINCT elements, so a duplicate in the config's required
    # list made the size test unsatisfiable and the screen silently
    # returned empty (r8 review); every required element present <=>
    # req \ bulk_elements is empty, duplicates and all
    req = f"array({lit_list(list(v))})"
    return df.filter(f"size(array_except({req}, bulk_elements)) = 0")


def _bulk_object_size(df, v, _):
    return df.filter(f"bulk_natoms <= {lit(int(v))}")


def _elements_active_host(df, v, _):
    """All elements ∈ active ∪ host AND ≥1 active AND ≥1 host
    (catlas/filters.py:73-87)."""
    active, host = list(v["active"]), list(v["host"])
    return df.filter(
        f"{_subset_of('bulk_elements', active + host)}"
        f" AND arrays_overlap(bulk_elements, array({lit_list(active)}))"
        f" AND arrays_overlap(bulk_elements, array({lit_list(host)}))"
    )


def _element_groups(df, v, _):
    """elements ⊆ union of named periodic-table groups
    (catlas/filters.py:88-98): a driver-expanded allowed set, i.e. a
    semi-join against a derived dimension. Unimplemented group names warn
    (reference `get_elements_in_groups`, catlas/filter_utils.py:183-190);
    `validate_config` rejects them up front so a config typo cannot
    silently match nothing."""
    allowed: set[str] = set()
    for g in v:
        g_canon = ELEMENT_GROUP_ALIASES.get(g, g)
        if g_canon not in ELEMENT_GROUPS:
            warnings.warn(
                f"Group not implemented: {g}\n Implemented groups are: "
                f"{sorted(ELEMENT_GROUPS) + sorted(ELEMENT_GROUP_ALIASES)}"
            )
            continue
        allowed.update(ELEMENT_GROUPS[g_canon])
    return df.filter(_subset_of("bulk_elements", sorted(allowed)))


def _pourbaix_stability(df, v, ctx):
    """F9: keep bulks stable at ANY condition (catlas/filters.py:99-111).

    The reference does per-row LMDB lookups + memoized computation; the
    Spark-first form is a broadcast semi-join against the pourbaix side
    table filtered to the requested (pH, V) window — compute-once,
    reusable, no per-row Python.
    """
    pb = ctx.get("pourbaix")
    if pb is None:
        raise ValueError("pourbaix side table not provided in context")
    max_e = float(v.get("max_decomposition_energy", 0.5))
    cond = F.col("decomp_e") <= max_e
    if "pH_lower" in v:
        cond = cond & F.col("pH").between(float(v["pH_lower"]), float(v["pH_upper"]))
        cond = cond & F.col("V").between(float(v["V_lower"]), float(v["V_upper"]))
    elif "conditions" in v:
        if not v["conditions"]:
            # an empty list passed validate_config (all() over [] is
            # True) and built `cond & None` -> NULL predicate -> zero
            # stable bulks -> the whole screen silently returned empty
            # (r8 review). Misconfiguration must be loud.
            raise ValueError(
                "filter_by_pourbaix_stability: 'conditions' is empty — "
                "provide at least one {pH, V} condition or use the "
                "pH_lower/pH_upper window form"
            )
        any_cond = None
        for c in v["conditions"]:
            this = (F.col("pH") == float(c["pH"])) & (F.col("V") == float(c["V"]))
            any_cond = this if any_cond is None else (any_cond | this)
        cond = cond & any_cond
    stable = pb.filter(cond).select("bulk_id").distinct()
    return df.join(F.broadcast(stable), "bulk_id", "left_semi")


def _e_above_hull(df, v, _):
    return df.filter(f"bulk_e_above_hull <= {lit(float(v))}")


def _band_gap(df, v, _):
    """F11 band-gap range. Reference grammar keys are ``min_gap`` /
    ``max_gap`` (`catlas/filters.py:116-129`); the legacy ``lower`` /
    ``upper`` spellings are accepted as aliases. A config with neither
    spelling warns and applies no filter (reference behavior)."""
    lo = v.get("min_gap", v.get("lower"))
    hi = v.get("max_gap", v.get("upper"))
    if lo is None and hi is None:
        warnings.warn("Band gap filtering was not specified properly -> skipping it.")
        return df
    out = df
    if lo is not None:
        out = out.filter(f"bulk_band_gap >= {lit(float(lo))}")
    if hi is not None:
        out = out.filter(f"bulk_band_gap <= {lit(float(hi))}")
    return out


def _fraction(df, v, _):
    return df.sample(fraction=float(v), seed=42)


BULK_FILTERS: dict[str, FilterFn] = {
    "filter_by_bulk_ids": _by_bulk_ids,
    "filter_ignore_bulk_ids": _ignore_bulk_ids,
    "filter_by_acceptable_elements": _acceptable_elements,
    "filter_by_num_elements": _num_elements,
    "filter_by_required_elements": _required_elements,
    "filter_by_object_size": _bulk_object_size,
    "filter_by_elements_active_host": _elements_active_host,
    "filter_by_element_groups": _element_groups,
    "filter_by_pourbaix_stability": _pourbaix_stability,
    "filter_by_bulk_e_above_hull": _e_above_hull,
    "filter_by_bulk_band_gap": _band_gap,
    "filter_fraction": _fraction,
}


# --- adsorbate filters (F13, catlas/filters.py:218-263) --------------------


def _by_smiles(df, v, _):
    return df.filter(_in("adsorbate_smiles", list(v)))


ADSORBATE_FILTERS: dict[str, FilterFn] = {
    "filter_by_smiles": _by_smiles,
}


# --- slab filters (F14-F17, catlas/filters.py:196-214 + filter_utils) ------


def _slab_object_size(df, v, _):
    return df.filter(f"slab_natoms <= {lit(int(v))}")


def _max_miller(df, v, _):
    """F15 is pushed into the enumeration source (parameter of the TVF,
    catlas/prediction_steps.py:227-231); as a post-filter it is the
    equivalent predicate."""
    return df.filter(f"slab_max_miller_index <= {lit(int(v))}")


def _surface_topk(score_col: str):
    def fn(df, v, _):
        # deterministic total order: score, then the surface identity
        order = [
            F.col(score_col).asc(),
            F.col("slab_millers"),
            F.col("slab_shift"),
            F.col("slab_top"),
        ]
        if "top_k" in v:
            return grouped_topk(df, ["bulk_id"], order, int(v["top_k"]))
        return grouped_top_proportion(df, ["bulk_id"], order, float(v["top_proportion"]))

    return fn


def _best_shift(score_col: str):
    def fn(df, v, _):
        t = float(v.get("difference_threshold", 0.1)) if isinstance(v, dict) else 0.1
        return best_within_relative_threshold(
            df, ["bulk_id", "slab_millers"], F.col(score_col), t
        )

    return fn


SLAB_FILTERS: dict[str, FilterFn] = {
    "filter_by_object_size": _slab_object_size,
    "filter_by_max_miller_index": _max_miller,
    "filter_by_broken_bonds": _surface_topk("slab_score_bb"),
    "filter_by_surface_density": _surface_topk("slab_score_sd"),
    "filter_best_shift_by_broken_bonds": _best_shift("slab_score_bb"),
    "filter_best_shift_by_surface_density": _best_shift("slab_score_sd"),
}


# --- prediction filters (F18/F19, catlas/filters.py:266-348) ---------------

DEFAULT_HASH_COLUMNS = ["bulk_id", "slab_millers", "slab_shift", "slab_top"]


def adsorption_energy_filter(
    df: DataFrame,
    step_label: str,
    smiles: list[str],
    min_value: float,
    max_value: float,
    hash_columns: list[str] | None = None,
) -> DataFrame:
    """F18: within each surface group, a row of the given adsorbates must
    have min_<label> in [min, max]; otherwise soft-delete the whole group
    (`predictions_filter`, catlas/filters.py:266-324)."""
    keys = hash_columns or DEFAULT_HASH_COLUMNS
    energy = ident(f"min_{step_label}")
    pred = F.expr(
        f"{_in('adsorbate_smiles', smiles)} AND {energy} IS NOT NULL"
        f" AND {energy} BETWEEN {lit(min_value)} AND {lit(max_value)}"
    )
    reason = f"No {'/'.join(smiles)} adsorption energy in [{min_value}, {max_value}]"
    return group_exists_mark(df, keys, pred, reason)


def adsorption_energy_target_filter(
    df: DataFrame,
    step_label: str,
    smiles: list[str],
    target_value: float,
    range_value: float = 0.5,
    hash_columns: list[str] | None = None,
) -> DataFrame:
    """F19: F18 with window = target ± range (catlas/filters.py:325-348)."""
    return adsorption_energy_filter(
        df,
        step_label,
        smiles,
        target_value - range_value,
        target_value + range_value,
        hash_columns,
    )


# --- dispatch loop ---------------------------------------------------------


def apply_filters(
    df: DataFrame,
    config: dict[str, Any],
    registry: dict[str, FilterFn],
    context: dict | None = None,
) -> DataFrame:
    """Apply config entries in order (reference semantics:
    catlas/filters.py:38,135): None/'None' disables; unknown names warn."""
    ctx = context or {}
    out = df
    for name, value in config.items():
        if value is None or value == "None":
            continue
        fn = registry.get(name)
        if fn is None:
            warnings.warn(f"unknown filter {name!r} — skipped (reference semantics)")
            continue
        out = fn(out, value, ctx)
    return out
