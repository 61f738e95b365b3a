"""Deterministic synthetic fixtures for the screening pipeline
(FIXTURES.md tables 1-6; seeded, sorted-stable).

Mirrors the shape of the reference's inputs — bulks from
`catlas/load_bulk_structures.py`, adsorbates from
`catlas/load_adsorbate_structures.py`, pourbaix side table from
`catlas/filter_utils.py:194-268`, validation rows from
`catlas/parity/data_processing_utils.py:51-72` — with deterministic
surrogate payloads replacing pymatgen/ase objects so operator semantics
(not chemistry) are what is tested, matching how the reference's CI
exercises pipeline shape rather than golden values (SURVEY.md §5).
"""

from __future__ import annotations

import pickle
import random

from pyspark.sql import DataFrame, SparkSession

from .. import schemas
from .local import local_frame

ELEMENT_POOL = [
    "Pt", "Cu", "Ag", "Au", "Pd", "Zn", "Ni", "Fe", "Co", "Rh",
    "Sn", "Al", "Ga", "Si", "K", "Na", "Ca", "S", "Cl", "La",
]

ADSORBATE_SMILES = ["*H", "*CO", "*OH", "*CHO", "*OCCOH", "*N", "*O", "*C"]


def make_bulks(spark: SparkSession, n: int = 200, seed: int = 42) -> DataFrame:
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        nelem = rng.randint(1, 3)
        elements = sorted(rng.sample(ELEMENT_POOL, nelem))
        bulk_id = f"mp-{i}"
        rows.append(
            (
                bulk_id,
                "synthetic_bulks",
                rng.randint(1, 120),
                "RPBE",
                nelem,
                elements,
                round(rng.uniform(0.0, 0.3), 6),
                round(rng.uniform(0.0, 3.0), 6),
                pickle.dumps({"id": bulk_id}),
            )
        )
    return local_frame(spark, rows, schemas.BULKS)


def make_adsorbates(spark: SparkSession, seed: int = 42) -> DataFrame:
    rng = random.Random(seed + 1)
    rows = []
    for s in ADSORBATE_SMILES:
        bond = [0] if rng.random() < 0.6 else [0, 1]
        rows.append((s, pickle.dumps({"smiles": s}), bond, "synthetic_adsorbates"))
    return local_frame(spark, rows, schemas.ADSORBATES)


def make_pourbaix(spark: SparkSession, bulk_ids: list[str], seed: int = 42) -> DataFrame:
    """KV side table replacing the reference's LMDB (S4): one row per
    (bulk_id, pH, V) grid point with a deterministic decomposition energy."""
    rng = random.Random(seed + 2)
    offsets = {b: rng.uniform(-0.5, 1.5) for b in bulk_ids}
    rows = []
    for b in bulk_ids:
        for ph10 in range(0, 150, 10):  # pH 0..14 step 1
            for v10 in range(-15, 16, 5):  # V -1.5..1.5 step 0.5
                ph, v = ph10 / 10.0, v10 / 10.0
                decomp = offsets[b] + 0.05 * abs(ph - 7.0) + 0.3 * abs(v)
                rows.append((b, ph, v, round(decomp, 6)))
    return local_frame(spark, rows, schemas.POURBAIX)


def make_validation(spark: SparkSession, n: int = 2000, seed: int = 42) -> DataFrame:
    """Parity-analytics input: ML_energy[i] = DFT + noise shrinking in i,
    so frame optimization has a well-defined argmin (FIXTURES.md §6)."""
    rng = random.Random(seed + 3)
    dists = ["id", "ood", "ood_ads", "ood_cat"]
    rows = []
    for i in range(n):
        dft = rng.uniform(-4.0, 2.0)
        ml = [
            round(dft + rng.gauss(0, 1.0) * (1.0 / (1 + 0.35 * j)), 6) for j in range(20)
        ]
        nelem = rng.randint(1, 3)
        rows.append(
            (
                f"random{i}",
                # decorrelated from the adsorbate cycle (i%8): otherwise
                # each adsorbate only ever sees 2 of the 4 distributions
                dists[(i * 5 + i // 8) % 4],
                ADSORBATE_SMILES[i % len(ADSORBATE_SMILES)],
                sorted(rng.sample(ELEMENT_POOL, nelem)),
                nelem,
                round(dft, 6),
                ml,
                rng.random() > 0.1,
            )
        )
    return local_frame(spark, rows, schemas.VALIDATION)
