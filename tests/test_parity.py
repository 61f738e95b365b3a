"""Parity analytics vs a pandas/numpy oracle on the validation fixture."""

from __future__ import annotations

import numpy as np
import pytest

from catlas_spark.parity import best_frame, frame_error_curve, parity_summary
from catlas_spark.sources import fixtures


@pytest.fixture(scope="module")
def validation(spark):
    return fixtures.make_validation(spark, n=400)


def test_parity_summary_matches_numpy(spark, validation):
    got = {r.distribution: r for r in parity_summary(validation).collect()}
    pdf = validation.toPandas()
    pdf = pdf[pdf.good_trajectory]
    for dist, grp in pdf.groupby("distribution"):
        ml = np.array([e[-1] for e in grp.ML_energy])
        dft = grp.DFT_energy.to_numpy()
        r = got[dist]
        assert r.n == len(grp)
        assert abs(r.mae - np.abs(ml - dft).mean()) < 1e-3
        slope, intercept = np.polyfit(dft, ml, 1)
        assert abs(r.slope - slope) < 1e-3
        assert abs(r.intercept - intercept) < 1e-3
        assert abs(r.r - np.corrcoef(dft, ml)[0, 1]) < 1e-3


def test_frame_curve_monotone_and_argmin(spark, validation):
    curve = frame_error_curve(validation).toPandas()
    # fixture noise shrinks with frame index → later frames have lower MAE
    overall = curve.groupby("frame").mae.mean()
    assert overall.iloc[-1] < overall.iloc[0]
    best = best_frame(validation).toPandas()
    for _, row in best.iterrows():
        sub = curve[curve.adsorbate == row.adsorbate]
        expected = sub.sort_values(["mae", "frame"]).iloc[0]
        assert row.best_frame == expected.frame
        assert row.best_mae == expected.mae


def test_parity_cli_writes_outputs_and_gated_pdf(spark, tmp_path, validation):
    """The parity CLI (reference bin/get_parities.py) writes JSON +
    frame-curve parquet always; the PDF plot (K5,
    catlas/parity/parity_utils.py:19-103) is written iff matplotlib is
    importable — in this runtime it is absent, so the contract is an
    explicit None, never a crash."""
    import json
    import os

    from catlas_spark.parity_cli import write_parity_pdf

    out = str(tmp_path / "parity_out")
    os.makedirs(out)
    summary = [
        {"distribution": "id", "mae": 0.5, "slope": 1.01},
        {"distribution": "ood", "mae": 0.9, "slope": 0.92},
    ]
    pdf = write_parity_pdf(validation, summary, out)
    try:
        import matplotlib  # noqa: F401

        assert pdf is not None and os.path.exists(pdf) and pdf.endswith(".pdf")
    except ImportError:
        assert pdf is None
        assert os.listdir(out) == []  # nothing half-written

    # full CLI path: JSON + parquet artifacts regardless of plot libs
    from catlas_spark import parity_cli

    rc = parity_cli.main(["--output", out])
    assert rc == 0
    with open(os.path.join(out, "parity_summary.json")) as f:
        blob = json.load(f)
    assert blob["per_distribution"] and "pdf" in blob
    assert os.path.isdir(os.path.join(out, "frame_curve"))


def test_best_frame_ignores_null_mae_frames(spark):
    """A frame position where every ML value is NULL aggregates to NULL
    MAE; struct ordering is NULLS FIRST, so without the exclusion that
    frame would win the argmin."""
    from pyspark.sql import functions as F

    from catlas_spark.parity import best_frame

    rows = [
        ("CO", 1.0, [2.0, 1.1, None]),
        ("CO", 1.0, [3.0, 1.2, None]),
    ]
    df = spark.createDataFrame(
        rows, "adsorbate string, DFT_energy double, ML_energy array<double>"
    ).withColumn("good_trajectory", F.lit(True))
    got = best_frame(df).collect()[0]
    assert got.best_frame == 1  # frame 2 (NULL mae) must not win
    assert got.best_mae is not None
