"""PageRank operator and overlapping-chunk invariants (beyond the SQL
oracle parity, which certifies the registry forms end-to-end)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from catlas_spark.operators.graph import pagerank


def test_pagerank_one_iteration_hand_computed(spark):
    """3-node graph with a dangling node, one sweep, checked against the
    hand-derived values of pr(v) = 0.05 + 0.85 * sum pr(u)/deg(u)."""
    nodes = spark.createDataFrame([(1,), (2,), (3,)], ["v"])
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 3)], ["src", "dst"]
    )
    got = {r.v: r.pr for r in pagerank(nodes, edges, iterations=1).collect()}
    exp = {
        1: 0.15 / 3 + 0.85 * (1 / 3),        # full mass of node 2
        2: 0.15 / 3 + 0.85 * (1 / 3) / 2,    # half of node 1's mass
        3: 0.15 / 3 + 0.85 * (1 / 3) / 2,
    }
    for v in exp:
        assert abs(got[v] - exp[v]) < 1e-12, (v, got[v], exp[v])


def test_pagerank_mass_and_floor_invariants(spark, sf_dir):
    """On the supplier co-occurrence graph: every rank is at least the
    teleport floor (1-d)/N, and total mass never exceeds 1 (dangling
    nodes leak mass, by the documented formula, but cannot create it)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("src"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("dst"))
    edges = (
        a.join(b, "ok").filter(F.col("src") != F.col("dst"))
        .select("src", "dst").distinct()
    )
    nodes = s.select(F.col("s_suppkey").alias("v"))
    n = nodes.count()
    ranks = pagerank(nodes, edges, iterations=3).collect()
    assert len(ranks) == n
    total = sum(r.pr for r in ranks)
    assert total <= 1.0 + 1e-9
    floor = 0.15 / n
    assert all(r.pr >= floor - 1e-12 for r in ranks)


def test_chunk_overlap_invariants(spark, sf_dir):
    """Sliding-window chunking (win=32, stride=24): chunk indexes are
    contiguous from 0, starts advance by the stride, every non-final
    chunk is full-width and ends strictly BEFORE the document end (start
    generation stops at the first window reaching the end — no chunk is
    a subset of its predecessor), and the final chunk ends at the last
    token."""
    from catlas_spark.queries import q_chunk_documents_overlap

    rows = q_chunk_documents_overlap(spark, sf_dir).collect()
    docs: dict[str, list] = {}
    for r in rows:
        docs.setdefault(r.doc_id, []).append(r)
    assert docs
    for doc_id, ch in docs.items():
        ch.sort(key=lambda r: r.chunk_idx)
        assert [c.chunk_idx for c in ch] == list(range(len(ch)))
        for c in ch:
            assert c.start_tok == c.chunk_idx * 24
        last = ch[-1]
        n_total = last.start_tok + last.n_tok
        for c in ch[:-1]:
            # non-final chunks are full windows that do NOT reach the end
            # — a start past that point would re-emit covered tokens only
            assert c.n_tok == 32, (doc_id, c)
            assert c.start_tok + 32 < n_total, (doc_id, c)
        assert last.n_tok <= 32
        if len(ch) > 1:
            # neighbors overlap by win - stride = 8 tokens
            for prev, nxt in zip(ch, ch[1:]):
                assert prev.start_tok + prev.n_tok - nxt.start_tok == 8


def test_chunk_boundary_lengths(spark, tmp_path):
    """Exact start-offset expectations at window/stride boundaries
    (win=32, stride=24): the generation rule is starts = 0, 24, ...,
    ceil((n-32)/24)*24 — one chunk for n <= 32, and never a start whose
    predecessor already reached the document end."""
    cases = {
        1: [0],          # single token
        31: [0],         # just under the window
        32: [0],         # exactly one window
        33: [0, 24],     # one token past -> second (9-token) chunk
        56: [0, 24],     # second window reaches the end exactly
        57: [0, 24, 48], # ...and one past needs a third
        80: [0, 24, 48], # third window reaches the end exactly
        81: [0, 24, 48, 72],
    }
    rows = [(n, " ".join(f"t{i}" for i in range(n))) for n in cases]

    # drive the REGISTRY QUERY itself on a synthetic documents table
    # (r8 tautology hunt: the old test re-implemented the start rule
    # inline — a both-sides-same-bug oracle that stayed green under any
    # change to the production expression)
    import catlas_spark.queries as Q

    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "documents.parquet"))
    out = Q.queries()["chunk_documents_overlap"](spark, str(tmp_path)).collect()
    got: dict[int, list] = {}
    for r in out:
        got.setdefault(r.doc_id, []).append(r.start_tok)
    assert {k: sorted(v) for k, v in got.items()} == cases
    # and the boundary chunk widths: every non-final chunk full width,
    # the final one ends at the document end
    for r in out:
        starts = sorted(got[r.doc_id])
        if r.start_tok != starts[-1]:
            assert r.n_tok == 32
        else:
            assert r.n_tok == r.doc_id - r.start_tok


def test_pagerank_adjacency_matches_edge_form(spark, sf_dir):
    """The adjacency-array regime and the general edge-table form are the
    same algorithm — on the supplier co-occurrence graph their ranks
    must agree to float noise."""
    from catlas_spark.operators.graph import pagerank_adjacency

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    sets_ = li.groupBy("l_orderkey").agg(F.collect_set("l_suppkey").alias("ss"))
    edges = (
        sets_.select(F.explode("ss").alias("src"), "ss")
        .select("src", F.explode("ss").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    adj = (
        sets_.select(F.explode("ss").alias("src"), "ss")
        .groupBy("src")
        .agg(F.array_distinct(F.flatten(F.collect_list("ss"))).alias("nbrs"))
        .select("src", F.array_remove("nbrs", F.col("src")).alias("nbrs"))
    )
    nodes = s.select(F.col("s_suppkey").alias("v"))
    a = {r.v: r.pr for r in pagerank(nodes, edges, iterations=3).collect()}
    b = {r.v: r.pr for r in pagerank_adjacency(nodes, adj, iterations=3).collect()}
    assert set(a) == set(b)
    assert all(abs(a[v] - b[v]) < 1e-12 for v in a)


def test_triangle_participation_k4_plus_pendant(spark):
    """K4 has 4 triangles with every node in exactly 3; a pendant node
    hanging off the hub joins none. Degree-ordered orientation must
    count each triangle exactly once regardless of which endpoint is
    the hub."""
    from pyspark.sql import functions as F

    from catlas_spark.operators.graph import triangle_participation

    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (1, 99)]
    e = spark.createDataFrame(k4, "x LONG, y LONG")
    got = {
        r["node"]: r["n_triangles"] for r in triangle_participation(e).collect()
    }
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_participation_regime_equality(spark):
    """All three triangle regimes (driver adjacency-intersection, naive
    id-ordered 3-way join, degree-ordered orientation) must count the
    same triangles on the same graph — pinned AT the dispatch
    thresholds, with a hub (star center), reversed/mixed edge
    orientation, a self-loop, and a NULL endpoint in the input (the
    hazards each regime handles differently)."""
    import random

    from pyspark.sql import functions as F

    from catlas_spark.operators.graph import triangle_participation

    # graph shrunk 190 → ~75 edges (r12, verdict item 1a: this was the
    # suite's #2 wall cost at 99 s — three full regime runs including
    # the deliberately-unpersisted degree plan). Every hazard the test
    # pins survives: hub star center, mixed orientation, self-loop,
    # NULL endpoint, and triangles through and beside the hub.
    rng = random.Random(7)
    nodes = list(range(22))
    edges = set()
    while len(edges) < 55:
        u, v = rng.sample(nodes, 2)
        edges.add((min(u, v), max(u, v)))
    # hub: node 0 connected to everyone (orientation stress)
    for v in range(1, 22):
        edges.add((0, v))
    rows = [
        (v, u) if rng.random() < 0.5 else (u, v) for (u, v) in sorted(edges)
    ]
    rows += [(5, 5), (None, 3)]  # self-loop + NULL endpoint: no triangles
    e = spark.createDataFrame(rows, "x LONG, y LONG")
    n = len(edges)

    def run(**kw):
        return {
            r["node"]: r["n_triangles"]
            for r in triangle_participation(e, **kw).collect()
        }

    driver = run(driver_max_edges=n, naive_max_edges=n)
    naive = run(driver_max_edges=n - 1, naive_max_edges=n)
    degree = run(driver_max_edges=0, naive_max_edges=n - 1)
    assert driver == naive == degree
    assert sum(driver.values()) % 3 == 0 and sum(driver.values()) > 0


def test_triangle_participation_nonidentity_column_names(spark):
    """Filtering after the u/v alias resolved F.col(src) against the
    ALIASED output when a caller column was itself named 'u' or 'v',
    comparing a column to itself and silently dropping every edge (r8
    review, confirmed empty). The filter now runs before the alias."""
    from catlas_spark.operators.graph import triangle_participation

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5)], "v long, w long"
    )
    got = {
        (r.node, r.n_triangles)
        for r in triangle_participation(edges, src="v", dst="w").collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1)}
