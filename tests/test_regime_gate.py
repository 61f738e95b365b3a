"""The sf0.1 regime-flip gate harness (scripts/regime_gate.py) must not
rot: it patches operator module attributes by name, so a rename or a
dispatch-kwarg change would silently turn the gate into a no-op sweep.
These tests run the REAL script machinery at sf0.001 (every forced
regime, full oracle compare) and prove the gate can FAIL."""

import importlib
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))

import regime_gate  # noqa: E402


def test_every_regime_target_exists_and_accepts_forced_kwargs():
    """Each (module, attr) the gate patches must exist and declare the
    forced kwargs in its signature — a renamed knob would otherwise only
    surface as a TypeError inside a FAIL row at gate time."""
    import inspect

    for qname, regimes in regime_gate.REGIMES.items():
        for label, (mod_path, attr, forced) in regimes.items():
            fn = getattr(importlib.import_module(mod_path), attr)
            params = inspect.signature(fn).parameters
            for kw in forced:
                assert kw in params, f"{qname}[{label}]: {attr} lost kwarg {kw}"


def test_gate_green_at_sf0001(monkeypatch, capsys):
    """The full gate (all forced regimes + the two_level equality check)
    is green at sf0.001 — the cheap rot check; the sf0.1 run is the
    committed REGIME_GATE.json artifact."""
    monkeypatch.setattr(sys, "argv", ["regime_gate.py", "/root/testdata/sf0.001"])
    assert regime_gate.main() == 0
    out = capsys.readouterr().out
    # every declared regime actually ran (no silent skip)
    n_declared = sum(len(v) for v in regime_gate.REGIMES.values())
    assert out.count("PASS") == n_declared + 1  # + two_level equality


def test_gate_fails_on_semantics_divergence(monkeypatch, capsys):
    """Falsifiability: force a kwarg that CHANGES results (tau) instead
    of one that only moves the physical plan — the oracle compare must
    flag it, proving the whole patch->run->compare path can fail."""
    broken = {
        "dedup_semantic": {
            "wrong-tau": (
                "catlas_spark.operators.similarity",
                "semantic_dedup",
                {"tau": 0.999},
            ),
        }
    }
    monkeypatch.setattr(regime_gate, "REGIMES", broken)
    monkeypatch.setattr(sys, "argv", ["regime_gate.py", "/root/testdata/sf0.001"])
    assert regime_gate.main() == 1
    assert "FAIL  dedup_semantic [wrong-tau]" in capsys.readouterr().out


def test_force_restores_original_on_exit():
    """_force must restore the module attribute even when the body
    raises — a leaked wrapper would pin the forced regime for every
    later query in the session."""
    mod = importlib.import_module("catlas_spark.operators.dedup")
    orig = mod.connected_components
    with pytest.raises(RuntimeError):
        with regime_gate._force(
            "catlas_spark.operators.dedup", "connected_components", {"driver_max_edges": 0}
        ):
            assert mod.connected_components is not orig
            raise RuntimeError("boom")
    assert mod.connected_components is orig


def test_plan_marks_reference_declared_regimes():
    """Every PLAN_MARKS key must point at a declared (query, label) —
    a renamed regime label would silently orphan its plan assertion."""
    declared = {
        (q, label)
        for q, regimes in regime_gate.REGIMES.items()
        for label in regimes
    }
    assert set(regime_gate.PLAN_MARKS).issubset(declared)
