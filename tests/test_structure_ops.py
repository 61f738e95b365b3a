"""Tests for nuclearity (T4) and anomaly flags (T5) against pure-Python
oracles.

The per-row union-find below is the oracle for the engine's batch-wide
``nuclearity_batch``: one graph per row, labeled one element at a time.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from catlas_spark.operators.structure import (
    add_nuclearity,
    anomaly_flags,
    attach_surrogate_graph,
    nuclearity_batch,
)
from catlas_spark.pipeline import enumerate_slabs
from catlas_spark.sources import fixtures


# --- the per-row oracle ----------------------------------------------------


def _components(n: int, edges: np.ndarray) -> np.ndarray:
    """Union-find connected-component labels for nodes 0..n-1."""
    parent = np.arange(n)

    def find(i: int) -> int:
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for a, b in edges:
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[ra] = rb
    return np.array([find(i) for i in range(n)])


def _nuclearity_one(elements: list[str], edges: list[list[int]]) -> dict:
    """Per-element component analysis of one structure vs its 2x2 replica,
    with the reference's EXACT infiniteness ratios
    (`evaluate_infiniteness`, catlas/nuclearity.py:86-105):

        max1 == max4        → finite, nuclearity = str(max1)
        max1 == 0.5 * max4  → "semi-finite"  (periodic in one direction)
        max1 == 0.25 * max4 → "infinite"     (periodic in both)
        otherwise           → "somewhat-infinite"

    The reference tiles the real slab ``repeat((2, 2, 1))`` and lets the
    pymatgen neighbor list re-derive cross-cell bonds. Without pymatgen
    the replica is a surrogate: four copies of the graph in a 2x2 grid,
    where nodes ≡ 0 (mod 4) act as the x-periodic boundary (wrap-connect
    x-adjacent copies) and nodes ≡ 2 (mod 4) as the y-periodic boundary
    (wrap-connect y-adjacent copies). A component
    touching one boundary doubles (semi-finite), touching both
    quadruples (infinite), touching neither stays fixed (finite) — the
    same growth signatures the real tiling produces."""
    n = len(elements)
    edge_arr = np.array(edges, dtype=np.int64).reshape(-1, 2) if edges else np.empty((0, 2), int)
    # 2x2 grid of copies k=0..3 at node offsets k*n; grid adjacency:
    # x-pairs (0,1),(2,3); y-pairs (0,2),(1,3)
    parts = [edge_arr + k * n for k in range(4)] if len(edge_arr) else []
    wrap = [
        [i + a * n, i + b * n]
        for (a, b) in ((0, 1), (2, 3))
        for i in range(0, n, 4)
    ] + [
        [i + a * n, i + b * n]
        for (a, b) in ((0, 2), (1, 3))
        for i in range(2, n, 4)
    ]
    wrap_arr = np.array(wrap, dtype=np.int64).reshape(-1, 2)
    all4 = np.concatenate(parts + [wrap_arr]) if parts else wrap_arr

    def _sub_components(n_nodes: int, e_arr, mask):
        """Component sizes of the subgraph INDUCED by mask — the
        reference slices the connectivity matrix to the element's atoms
        (connectivity_matrix[mask,:][:,mask], catlas/nuclearity.py:77-79)
        BEFORE labeling, so a Cu-Pt-Cu chain is two Cu monomers, never a
        Cu 'dimer' bridged through the Pt atom (r8 review: the old
        full-graph labeling inflated every multi-element structure's
        per-element cluster sizes)."""
        m = int(mask.sum())
        remap = np.full(n_nodes, -1, dtype=np.int64)
        remap[np.flatnonzero(mask)] = np.arange(m)
        if len(e_arr):
            keep = mask[e_arr[:, 0]] & mask[e_arr[:, 1]]
            sub = remap[e_arr[keep]]
        else:
            sub = np.empty((0, 2), int)
        return pd.Series(_components(m, sub)).value_counts().sort_values().tolist()

    out = {}
    el_arr = np.array(elements)
    for el in sorted(set(elements)):
        mask1 = el_arr == el
        comp1 = _sub_components(n, edge_arr, mask1)
        mask4 = np.concatenate([mask1] * 4)
        comp4 = _sub_components(4 * n, all4, mask4)
        max1, max4 = (max(comp1) if comp1 else 0), (max(comp4) if comp4 else 0)
        if max1 == max4:
            nuclearity = str(max1)
        elif 2 * max1 == max4:
            nuclearity = "semi-finite"
        elif 4 * max1 == max4:
            nuclearity = "infinite"
        else:
            nuclearity = "somewhat-infinite"
        out[el] = {"nuclearity": nuclearity, "nuclearities": [int(c) for c in comp1]}
    return out


def _oracle_row(elements, edges) -> dict:
    """The oracle on one row with the batch function's NULL conventions: a
    NULL cell is empty, NULL pairs are ignored, and nodes with a NULL
    element label join no component (a placeholder label keeps them apart
    and is dropped from the result)."""
    placeholder = "\0"
    els = [placeholder if e is None else e for e in (elements or [])]
    pairs = [list(p) for p in (edges or []) if p is not None]
    out = _nuclearity_one(els, pairs)
    out.pop(placeholder, None)
    return out


def _batch(rows, slice_from: int = 0) -> list[dict]:
    """nuclearity_batch over [(elements, edges), ...] as Python dicts; the
    map's entries must come in sorted element order."""
    els = pa.array([r[0] for r in rows], pa.list_(pa.string()))
    eds = pa.array([r[1] for r in rows], pa.list_(pa.list_(pa.int32())))
    got = nuclearity_batch(els.slice(slice_from), eds.slice(slice_from)).to_pylist()
    assert all([k for k, _ in m] == sorted(k for k, _ in m) for m in got)
    return [{k: v for k, v in m} for m in got]


def _nuclearity(elements, edges) -> dict:
    return _batch([(elements, edges)])[0]


def _random_row(rng: random.Random):
    if rng.random() < 0.08:
        return None, [[0, 1]]
    n = rng.randint(0, 24)
    pool = rng.sample(["Cu", "Pt", "Au", "Ni", "Pd"], rng.randint(1, 3))
    elements = [None if rng.random() < 0.05 else rng.choice(pool) for _ in range(n)]
    if n == 0 or rng.random() < 0.08:
        return elements, None if rng.random() < 0.5 else []
    edges = [[rng.randrange(n), rng.randrange(n)] for _ in range(rng.randint(0, 2 * n))]
    edges += [[i, i] for i in range(n) if rng.random() < 0.05]  # self-loops
    edges += [list(e) for e in edges if rng.random() < 0.2]  # duplicates
    edges += [None] * (rng.random() < 0.05)
    rng.shuffle(edges)
    return elements, edges


def test_nuclearity_one_oracle():
    # two Cu dimers + one isolated Pt; chain 0-1, 2-3
    elements = ["Cu", "Cu", "Cu", "Cu", "Pt"]
    edges = [[0, 1], [2, 3]]
    got = _nuclearity(elements, edges)
    assert got["Cu"]["nuclearities"] == [2, 2]
    assert got["Pt"]["nuclearities"] == [1]
    # exact classifications under the surrogate replica (r8 tautology
    # hunt: the old 3-value membership passed any infiniteness verdict).
    # Pt sits at index 4 ≡ 0 (mod 4) — the x-periodic boundary — so its
    # isolated component doubles in the 2x2 replica: semi-finite. The
    # Cu chain 0-1 touches boundary node 0 and also doubles.
    assert got["Pt"]["nuclearity"] == "semi-finite"
    assert got["Cu"]["nuclearity"] == "semi-finite"
    # a component touching NO boundary node (x: i ≡ 0, y: i ≡ 2, mod 4)
    # stays finite with the exact count
    off = _nuclearity(["X", "Cu", "X", "Cu", "X"], [[1, 3]])
    assert off["Cu"]["nuclearity"] == "2"
    assert got == _nuclearity_one(elements, edges)
    assert off == _nuclearity_one(["X", "Cu", "X", "Cu", "X"], [[1, 3]])


def test_nuclearity_empty_edges():
    got = _nuclearity(["Au", "Au"], [])
    assert got["Au"]["nuclearities"] == [1, 1]
    assert got == _nuclearity_one(["Au", "Au"], [])


@pytest.mark.parametrize("seed", range(6))
def test_nuclearity_batch_matches_per_row_oracle(seed):
    rng = random.Random(seed)
    rows = [_random_row(rng) for _ in range(rng.randint(1, 60))]
    assert _batch(rows) == [_oracle_row(els, eds) for els, eds in rows]
    # a sliced batch (non-zero Arrow offsets) labels the same rows
    cut = len(rows) // 3
    assert _batch(rows, cut) == [_oracle_row(els, eds) for els, eds in rows[cut:]]


def test_nuclearity_batch_edge_cases():
    assert _batch([]) == []
    rows = [
        (None, None),  # NULL cells: the empty map
        (None, [[0, 1]]),  # no nodes: every edge is out of range
        (["Pt", "Pt", "Pt"], None),  # NULL edges cell: no edges
        ([], []),
        (["Cu", None, "Cu"], [[0, 1], [1, 2]]),  # NULL label bridges nothing
        (["Cu", "Cu"], [[0, 0], [0, 1], [1, 0], [0, 1]]),  # loops, duplicates
        (["Cu", "Pt", "Cu"], [[0, 1], [1, 2], None]),  # induced, not bridged
    ]
    got = _batch(rows)
    assert got[:4] == [{}, {}, _nuclearity_one(["Pt"] * 3, []), {}]
    assert got[4] == {"Cu": {"nuclearity": "semi-finite", "nuclearities": [1, 1]}}
    assert got[5] == _nuclearity_one(["Cu", "Cu"], [[0, 0], [0, 1], [1, 0], [0, 1]])
    assert got[6]["Cu"]["nuclearities"] == [1, 1]
    assert got == [_oracle_row(els, eds) for els, eds in rows]


def test_add_nuclearity_distributed_matches_local(spark):
    bulks = fixtures.make_bulks(spark, n=6)
    slabs = attach_surrogate_graph(enumerate_slabs(bulks, max_miller=1))
    out = add_nuclearity(slabs).select(
        "atom_elements", "bond_edges", "nuclearity_info"
    ).collect()
    assert len(out) > 0
    for r in out[:40]:
        expected = _nuclearity_one(list(r.atom_elements), [list(e) for e in r.bond_edges])
        got = {
            el: {"nuclearity": v.nuclearity, "nuclearities": list(v.nuclearities)}
            for el, v in r.nuclearity_info.items()
        }
        assert got == expected
    # all bulk elements represented
    kinds = {v["nuclearity"] for r in out for v in (
        {el: {"nuclearity": vv.nuclearity} for el, vv in r.nuclearity_info.items()}
    ).values()}
    assert len(kinds) > 1  # finite AND infinite/semi-finite outcomes occur


@pytest.mark.parametrize(
    "initial,final,ads,expect",
    [
        # adsorbate bond 0-1 broken → dissociation; 0-2 present → no desorption
        ([[0, 1], [0, 2], [2, 3]], [[0, 2], [2, 3]], [0, 1], (True, False, False)),
        # adsorbate-surface bond gone → desorption
        ([[0, 2], [2, 3]], [[2, 3]], [0], (False, True, False)),
        # >25% surface bonds changed → reconstruction
        ([[2, 3], [3, 4], [4, 5], [5, 6]], [[2, 3], [3, 4], [4, 6], [2, 5], [0, 2]], [0], (False, False, True)),
    ],
)
def test_anomaly_flags(spark, initial, final, ads, expect):
    df = spark.createDataFrame(
        [(initial, final, ads)],
        "initial_edges array<array<int>>, final_edges array<array<int>>, ads array<int>",
    )
    out = df.select(
        anomaly_flags("initial_edges", "final_edges", "ads").alias("a")
    ).collect()[0].a
    assert (out.dissociation, out.desorption, out.reconstruction) == expect


def test_anomaly_edge_keys_canonicalize_endpoint_order(spark):
    """A bond recorded [1,2] initially and [2,1] finally is the SAME
    edge — reversed endpoints must not read as a dissociation."""
    from pyspark.sql import functions as F

    from catlas_spark.operators.structure import anomaly_flags

    df = spark.createDataFrame(
        [(1,)], "id int"
    ).select(
        F.expr("array(array(0, 1), array(1, 2))").alias("init"),
        F.expr("array(array(1, 0), array(2, 1))").alias("final"),
        F.expr("array(0, 1)").alias("ads"),
    )
    row = df.select(anomaly_flags("init", "final", "ads").alias("a")).first()
    assert row.a.dissociation is False
    assert row.a.reconstruction is False
