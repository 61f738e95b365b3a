"""Structure-graph operators: nuclearity (per-element connected
components) and trajectory anomaly flags.

Reference parity:
- T4 nuclearity (`catlas/nuclearity.py:14-62`): per surface, for each
  element, label connected components among that element's surface atoms
  and report {nuclearity, nuclearities}; comparing the 1x cell against a
  2x2 replica classifies clusters as finite / 'semi-finite' /
  'infinite' (`catlas/nuclearity.py:86-105`). The reference uses
  graph_tool on a pymatgen structure; here the graph arrives as explicit
  edge arrays (the surrogate-structure policy, SURVEY §7.3) and the
  labeling runs once per Arrow batch (inside the screen's next
  ``mapInArrow``, see ``pipeline.ArrowFeature``): every (row,
  element, 1x / 2x2 replica) induced subgraph is a disjoint block of one
  batch-wide graph, labeled by min-label hooking plus pointer jumping in
  numpy, with component sizes from ``np.unique``. No per-row Python and
  no pandas conversion of the carried columns.
- T5 anomaly flags (`catlas/flag_systems.py:40-96`): dissociation /
  desorption / reconstruction decided by comparing initial vs final
  connectivity. Connectivity arrives as edge lists; the checks are pure
  native array expressions (exists / array_except) — no Python.

The native expressions here are SQL text (see ``catlas_spark.sqltext``):
one py4j call per column instead of one per expression node.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

NUCLEARITY_SCHEMA = T.MapType(
    T.StringType(),
    T.StructType(
        [
            T.StructField("nuclearity", T.StringType(), True),
            T.StructField("nuclearities", T.ArrayType(T.IntegerType()), True),
        ]
    ),
)


def _label_components(n: int, u: np.ndarray, v: np.ndarray) -> np.ndarray:
    """Root label of every node 0..n-1 of the graph with edges (u, v).

    Min-label hooking: every root adjacent to a smaller root through an
    edge hooks under the smallest such root; pointer jumping then
    flattens every tree to depth one. Edges whose endpoints already share
    a root are dropped, so each round works only on the edges left
    between components. Labels only ever decrease, so parents form a
    forest and each round removes at least one root per unfinished
    component."""
    parent = np.arange(n, dtype=np.int64)
    while len(u):
        pu, pv = parent[u], parent[v]
        apart = pu != pv
        if not apart.any():
            break
        u, v, pu, pv = u[apart], v[apart], pu[apart], pv[apart]
        np.minimum.at(parent, np.maximum(pu, pv), np.minimum(pu, pv))
        while True:
            grand = parent[parent]
            if np.array_equal(grand, parent):
                break
            parent = grand
    return parent


def _classify(max1: np.ndarray, max4: np.ndarray) -> np.ndarray:
    """The reference's EXACT infiniteness ratios
    (`evaluate_infiniteness`, catlas/nuclearity.py:86-105):

        max1 == max4        → finite, nuclearity = str(max1)
        max1 == 0.5 * max4  → "semi-finite"  (periodic in one direction)
        max1 == 0.25 * max4 → "infinite"     (periodic in both)
        otherwise           → "somewhat-infinite"
    """
    out = np.full(len(max1), "somewhat-infinite", dtype=object)
    out[4 * max1 == max4] = "infinite"
    out[2 * max1 == max4] = "semi-finite"
    finite = max1 == max4
    out[finite] = max1[finite].astype(str)
    return out


def nuclearity_batch(elements: pa.Array, edges: pa.Array) -> pa.MapArray:
    """Per-element nuclearity of every row of one Arrow batch.

    ``elements`` is list<string> (one element label per node), ``edges``
    list<list<int>> ([a, b] node pairs). Returns the reference's MAP
    shape, {element: {nuclearity, nuclearities}}, entries in sorted
    element order, ``nuclearities`` ascending.

    Per element the graph is the subgraph INDUCED by that element's
    nodes — the reference slices the connectivity matrix to the
    element's atoms (connectivity_matrix[mask,:][:,mask],
    catlas/nuclearity.py:77-79) BEFORE labeling, so a Cu-Pt-Cu chain is
    two Cu monomers, never a Cu 'dimer' bridged through the Pt atom.
    Keeping only same-element edges of the whole graph yields exactly
    the union of those induced subgraphs.

    The reference tiles the real slab ``repeat((2, 2, 1))`` and lets the
    pymatgen neighbor list re-derive cross-cell bonds. Without pymatgen
    the replica is a surrogate: four copies k=0..3 of the graph in a 2x2
    grid (x-pairs (0,1),(2,3); y-pairs (0,2),(1,3)), where nodes ≡ 0
    (mod 4) act as the x-periodic boundary (wrap-connect x-adjacent
    copies) and nodes ≡ 2 (mod 4) as the y-periodic boundary. A
    component touching one boundary doubles (semi-finite), touching both
    quadruples (infinite), touching neither stays fixed (finite) — the
    same growth signatures the real tiling produces.

    Layout: the batch's T nodes occupy ids [0, T) (row by row), and each
    row's four replica copies occupy [T, 5T) (row by row, copy-major
    within a row). A NULL elements cell is the empty graph (an empty
    map) and a NULL edges cell has no edges; nodes with a NULL element
    label join no component; edges with a NULL or out-of-range endpoint
    are ignored.
    """
    n_rows = len(elements)
    n = pc.list_value_length(elements).fill_null(0).to_numpy().astype(np.int64)
    start = np.concatenate([[0], np.cumsum(n)[:-1]]).astype(np.int64)
    total = int(n.sum())

    # node attributes: row, local index, element code (-1: no element)
    labels = pc.list_flatten(elements)
    node_row = pc.list_parent_indices(elements).to_numpy().astype(np.int64)
    local = np.arange(total, dtype=np.int64) - start[node_row]
    valid = labels.is_valid()
    names, codes = np.unique(
        labels.filter(valid).to_numpy(zero_copy_only=False), return_inverse=True
    )
    valid = valid.to_numpy(zero_copy_only=False)
    code = np.full(total, -1, dtype=np.int64)
    code[valid] = codes

    # replica copy k of node j sits at rep_base[j] + k * n[row]
    rep_base = total + 4 * start[node_row] + local
    copies = [rep_base + k * n[node_row] for k in range(4)]
    code5 = np.empty(5 * total, dtype=np.int64)
    row5 = np.empty(5 * total, dtype=np.int64)
    code5[:total], row5[:total] = code, node_row
    for c in copies:
        code5[c], row5[c] = code, node_row

    # edges: [a, b] pairs with both endpoints in range (NULL → -1 → out)
    pairs = pc.list_flatten(edges)
    edge_row = pc.list_parent_indices(edges).to_numpy().astype(np.int64)
    keep = pc.fill_null(pc.greater_equal(pc.list_value_length(pairs), 2), False)
    pairs, edge_row = pairs.filter(keep), edge_row[keep.to_numpy(zero_copy_only=False)]
    a, b = (
        pc.fill_null(pc.list_element(pairs, i), -1).to_numpy().astype(np.int64)
        for i in (0, 1)
    )
    size = n[edge_row]
    ok = (a >= 0) & (a < size) & (b >= 0) & (b < size)
    a, b, edge_row, size = a[ok], b[ok], edge_row[ok], size[ok]
    a1, b1 = start[edge_row] + a, start[edge_row] + b
    base = total + 4 * start[edge_row]
    u = [a1] + [base + k * size + a for k in range(4)]
    v = [b1] + [base + k * size + b for k in range(4)]
    # replica wrap edges between grid-adjacent copies of boundary nodes
    for mod, grid in ((0, ((0, 1), (2, 3))), (2, ((0, 2), (1, 3)))):
        on = local % 4 == mod
        for p, q in grid:
            u.append(copies[p][on])
            v.append(copies[q][on])
    u, v = np.concatenate(u), np.concatenate(v)
    same = (code5[u] == code5[v]) & (code5[u] >= 0)
    root = _label_components(5 * total, u[same], v[same])

    # component sizes, keyed by (row, element) group
    roots, sizes = np.unique(root[code5 >= 0], return_counts=True)
    n_codes = max(len(names), 1)
    group = row5[roots] * n_codes + code5[roots]
    cell = roots < total  # a component of the 1x cell, not of the replica
    nuclearities = sizes[cell][np.lexsort((sizes[cell], group[cell]))]
    keys, per_key = np.unique(group[cell], return_counts=True)
    list_offsets = np.concatenate([[0], np.cumsum(per_key)])
    max1 = nuclearities[list_offsets[1:] - 1]
    max4 = np.zeros(len(keys), dtype=np.int64)
    np.maximum.at(max4, np.searchsorted(keys, group[~cell]), sizes[~cell])

    key_row = keys // n_codes
    map_offsets = np.concatenate([[0], np.cumsum(np.bincount(key_row, minlength=n_rows))])
    items = pa.StructArray.from_arrays(
        [
            pa.array(_classify(max1, max4), pa.string()),
            pa.ListArray.from_arrays(
                pa.array(list_offsets, pa.int32()), pa.array(nuclearities, pa.int32())
            ),
        ],
        names=["nuclearity", "nuclearities"],
    )
    return pa.MapArray.from_arrays(
        pa.array(map_offsets, pa.int32()),
        pa.array(names[keys % n_codes], pa.string()),
        items,
    )


def nuclearity_column(batch: pa.RecordBatch) -> pa.MapArray:
    """The nuclearity feature of one Arrow batch, from its ``atom_elements``
    (array<string>) and ``bond_edges`` (array<array<int>> pairs)."""
    return nuclearity_batch(batch.column("atom_elements"), batch.column("bond_edges"))


def attach_surrogate_graph(slabs: DataFrame) -> DataFrame:
    """Deterministic surrogate structure graph per slab: node elements
    cycle through bulk_elements; edges from a hash chain. Stands in for
    the pymatgen connectivity matrix (SURVEY §7.3 surrogate policy)."""
    key = "bulk_id, slab_millers, slab_shift, slab_top"
    n_nodes = f"(4 + pmod(xxhash64({key}, 'n'), 12))"
    idx = f"sequence(0, {n_nodes} - 1)"
    # greatest(size, 1): an EMPTY bulk_elements array (dirty upstream
    # row) made pmod(i, 0) an ANSI DIVIDE_BY_ZERO job abort (r8 review);
    # with the guard element_at probes index 1 of the empty array via
    # try_element_at -> NULL element labels, a degenerate-but-alive row
    elements = (
        f"transform({idx}, i -> try_element_at(bulk_elements, "
        "CAST(pmod(i, greatest(size(bulk_elements), 1)) + 1 AS INT)))"
    )
    # chain edges kept with prob 2/3, plus skip links every 4th node
    chain = (
        f"filter(transform({idx}, i -> array(i, i + 1)), "
        f"e -> (element_at(e, 2) < {n_nodes}) "
        f"AND (pmod(xxhash64({key}, element_at(e, 1)), 3) > 0))"
    )
    skips = (
        f"filter(transform({idx}, i -> array(i, i + 4)), "
        f"e -> (element_at(e, 2) < {n_nodes}) "
        f"AND (pmod(xxhash64({key}, element_at(e, 1), 's'), 5) = 0))"
    )
    return slabs.withColumns(
        {
            "atom_elements": F.expr(elements),
            "bond_edges": F.expr(f"CAST(concat({chain}, {skips}) AS ARRAY<ARRAY<INT>>)"),
        }
    )


# --- T5: trajectory anomaly flags (native expressions) ---------------------


def anomaly_flags(initial_edges: str, final_edges: str, adsorbate_nodes: str) -> Column:
    """Struct(dissociation, desorption, reconstruction) from initial vs
    final connectivity (flag_systems.py:40-96 semantics). Arguments are
    SQL expressions: two array<array<int>> edge lists and the
    array<int> of adsorbate node ids.

    - dissociation: an adsorbate-internal bond present initially is
      missing in the final frame (`is_adsorbate_dissociated:40-52`)
    - desorption: the final frame has NO adsorbate-surface bond
      (`is_adsorbate_desorbed:78-96`)
    - reconstruction: >25% of surface-surface bonds changed
      (`has_surface_changed:54-76`)

    Edge keys are canonical: endpoints are sorted first, so a bond
    recorded [1,2] initially and [2,1] in the final frame is the SAME
    edge — without that, array_except would count it as one removal plus
    one addition (a phantom dissociation and a double-counted
    reconstruction change).
    """
    a_ads = f"array_contains({adsorbate_nodes}, CAST(element_at(e, 1) AS INT))"
    b_ads = f"array_contains({adsorbate_nodes}, CAST(element_at(e, 2) AS INT))"
    kind = (
        f"CASE WHEN {a_ads} AND {b_ads} THEN 'aa' "
        f"WHEN {a_ads} OR {b_ads} THEN 'as' ELSE 'ss' END"
    )

    def keys_of(edges: str, k: str) -> str:
        return (
            f"transform(filter({edges}, e -> {kind} = '{k}'), "
            "e -> concat_ws('-', array_sort(e)))"
        )

    init_aa, fin_aa = keys_of(initial_edges, "aa"), keys_of(final_edges, "aa")
    fin_as = keys_of(final_edges, "as")
    init_ss, fin_ss = keys_of(initial_edges, "ss"), keys_of(final_edges, "ss")
    changed = (
        f"size(array_except({init_ss}, {fin_ss})) + size(array_except({fin_ss}, {init_ss}))"
    )
    return F.expr(
        "struct("
        f"size(array_except({init_aa}, {fin_aa})) > 0 AS dissociation, "
        f"size({fin_as}) = 0 AS desorption, "
        f"({changed}) > (size({init_ss}) / 4) AS reconstruction)"
    )
