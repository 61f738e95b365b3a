"""Deduplication operators for training-data pipelines.

Four tiers, each a standard corpus-dedup technique re-expressed as
shuffle-efficient DataFrame plans (no Python UDFs):

- exact:        hash-groupBy on a canonical fingerprint — one shuffle.
- minhash+LSH:  shingles → per-permutation min-hash → band buckets →
                candidate join → exact-Jaccard verify. Candidate
                generation is linear in corpus size (explode by bands),
                never all-pairs.
- simhash:      per-token hash bits → majority vote per bit → 16-bit
                fingerprint; near-dups share a fingerprint bucket.
- n-gram Jaccard: blocked all-pairs verify (use only within small blocks;
                the LSH path is the scale path).

Scale/portability design:
- The shingle→hash step is EXPLODED (one row per (doc, shingle)) so the
  md5 runs once per shingle inside whole-stage codegen, and the minhash
  reduction is a plain map-side-combinable groupBy — not an interpreted
  higher-order function over array columns (8-40× slower, measured).
- The minhash family is the textbook universal family
  h_i(s) = (a_i * x + b_i) mod (2^31 - 1) over x = 28 bits of md5(s).
  The Mersenne-prime modulus keeps products < 2^59 (no BIGINT overflow
  on any engine), md5 is engine-portable (DuckDB:
  ('0x'||substr(md5(s),1,7))::BIGINT gives bit-identical values), and
  the permutations are INDEPENDENT — a naive h1 + i*h2 family without a
  modulus is monotone-correlated across i (every high-i signature
  collapses to the min-h2 shingle), which floods LSH bands with false
  candidates (measured 1.3M candidate pairs vs ~6k with this family).
- Jaccard verification intersects *hashed* shingle sets (arrays of
  long), which is both faster than string arrays and portable: the
  intersection size equals the string-shingle intersection size.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..caching import materialize_and_release, maybe_persist, release
from ..functions.text import char_shingles, fingerprint, token_shingles
from ..sources.local import local_frame


def _hex_long(col: Column, start: int, length: int = 13) -> Column:
    """Parse ``length`` hex digits of an md5 column into a BIGINT
    (≤52 bits for length 13)."""
    return F.conv(F.substring(col, start, length), 16, 10).cast("long")


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup: canonical fingerprint → keep the smallest id.

    Single hash-shuffle on the fingerprint; at 100 TB this is the
    map-side-combinable groupBy, not a self-join.
    """
    return (
        df.withColumn("fp", fingerprint(F.col(text_col)))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# Mersenne prime modulus and fixed (a_i, b_i) coefficients of the
# universal minhash family — shared with the DuckDB oracle SQL generator.
MINHASH_P = 2_147_483_647  # 2^31 - 1

def minhash_coeffs(n_perm: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs, a odd, both < P (seeded LCG — fixed
    forever; changing them invalidates every stored signature)."""
    out, x = [], 88172645463325252
    for _ in range(n_perm):
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (x % (MINHASH_P - 2)) | 1
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = x % MINHASH_P
        out.append((a, b))
    return out


def shingle_hashes(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 2,
    shingle_mode: str = "token",
) -> DataFrame:
    """(doc, x, h1) — one row per shingle, computed in whole-stage
    codegen: ``x`` is the 28-bit minhash-family input, ``h1`` the 52-bit
    identity hash used for Jaccard sets (lower collision rate).

    ``shingle_mode``: "token" (word n-grams) or "char" (character
    n-grams — robust to tokenization differences and no-whitespace
    scripts, at ~len(text) shingles per doc instead of ~n_tokens).
    """
    from ..partitioning import spread_small_source

    shingler = {"token": token_shingles, "char": char_shingles}[shingle_mode]
    md5 = F.md5(F.col("s"))
    # a small parquet corpus arrives as ONE input split; spread the
    # explode+hash chain across the cluster before the heavy map (at
    # real scale the source has many splits and this is a cheap no-op
    # round-robin of pointers, never payload duplication)
    return (
        spread_small_source(df)
        .select(
            F.col(id_col).alias("doc"),
            F.explode(shingler(F.col(text_col), shingle_n)).alias("s"),
        )
        .withColumn("m", md5)
        .select(
            "doc",
            _hex_long(F.col("m"), 1, 7).alias("x"),
            _hex_long(F.col("m"), 17, 13).alias("h1"),
        )
    )


# auto-dispatch boundary for minhash_signatures: estimated input bytes
# above which the in-row (zero-aggregation-shuffle) form takes over from
# explode+groupBy. Calibrated by same-session interleaved A/B (r10):
# at the sf0.1 corpus (~0.5 MB estimate) explode wins 1.60/1.70 s vs
# in-row 2.08/2.10 s on dedup_minhash_char/_lsh; at the 10x stress
# corpus (~5 MB estimate) in-row wins (median 17.7 vs 25.6 s, noisy
# box, direction consistent with the r9 calm-box 1.9 vs 17.9 s rows).
# 2 MB sits between the two measured regimes. See the regime note in
# minhash_signatures.
MINHASH_INROW_MIN_BYTES = 2 << 20


def _plan_size_bytes(df: DataFrame) -> int:
    from ..partitioning import plan_size_bytes

    return plan_size_bytes(df)


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_perm: int = 8,
    shingle_n: int = 2,
    with_hash_set: bool = False,
    shingle_mode: str = "token",
    form: str = "auto",
) -> DataFrame:
    """Per-doc minhash signature columns sig_0..sig_{n_perm-1}.
    ``with_hash_set`` adds the distinct shingle-hash set for later exact
    Jaccard verification.

    TWO physical forms, value-identical (regime-equality tested), auto-
    dispatched on Catalyst's input size estimate (zero planning jobs —
    the CC/triangle dispatch discipline):

    - ``explode``: explode shingles → whole-stage-codegen md5 →
      groupBy(doc) with n_perm map-side-combinable min aggregates plus
      an optional collect_set. One exchange, but a TINY one (partial
      aggregation reduces it to one row per doc per partition) — and
      the md5/substring/conv chain runs compiled. Wins while the corpus
      is small enough that per-row interpretation, not the exchange,
      dominates.
    - ``inrow``: per-doc array fold — hash the shingle array in place
      and fold each permutation with array_min. No aggregation exchange
      at all (one optional round-robin spread of small sources — see
      below), no aggregate hash table, a pure map stage: the form you
      want on a 100 TB corpus where any exchange and any per-doc
      aggregation state is real money. Costs interpreted HOF evaluation
      per shingle, which is why it loses at small scale.

    ``form="auto"`` picks explode below MINHASH_INROW_MIN_BYTES of
    estimated input and inrow above (estimate failure → inrow, the
    scale-safe side). The r9 all-scales in-row switch regressed the
    sf0.1 bench ~45% on the minhash family (VERDICT r9) — this dispatch
    restores the compiled small-scale path while keeping the zero-
    shuffle form where it wins.
    """
    from ..partitioning import spread_small_source

    coeffs = minhash_coeffs(n_perm)
    if form == "auto":
        form = "inrow" if _plan_size_bytes(df) >= MINHASH_INROW_MIN_BYTES else "explode"
    if form == "explode":
        hashed = shingle_hashes(df, text_col, id_col, shingle_n, shingle_mode)
        aggs = [
            F.min(
                F.pmod(F.lit(a) * F.col("x") + F.lit(b), F.lit(MINHASH_P))
            ).alias(f"sig_{i}")
            for i, (a, b) in enumerate(coeffs)
        ]
        if with_hash_set:
            aggs.append(F.collect_set("h1").alias("hset"))
        # docs with NO shingles produce no exploded rows, hence no group
        # — the zero-shingle contract both regimes share
        return hashed.groupBy("doc").agg(*aggs)
    if form != "inrow":
        raise ValueError(f"minhash_signatures: unknown form {form!r}")
    # interpreted HOFs: spread the corpus across the cluster first (one
    # cheap round-robin of a small source; a no-op at real scale where
    # the source has many splits)
    shingler = {"token": token_shingles, "char": char_shingles}[shingle_mode]
    ms = F.transform(shingler(F.col(text_col), shingle_n), lambda s: F.md5(s))
    hashed = spread_small_source(df).select(
        F.col(id_col).alias("doc"),
        F.transform(ms, lambda m: _hex_long(m, 1, 7)).alias("xs"),
        *(
            [F.transform(ms, lambda m: _hex_long(m, 17, 13)).alias("h1s")]
            if with_hash_set
            else []
        ),
    )
    cols = [
        F.array_min(
            F.transform("xs", lambda x: F.pmod(F.lit(a) * x + F.lit(b), F.lit(MINHASH_P)))
        ).alias(f"sig_{i}")
        for i, (a, b) in enumerate(coeffs)
    ]
    if with_hash_set:
        # array_distinct replaces collect_set: consumers treat hset as a
        # set (array_intersect / size), so element order is free
        cols.append(F.array_distinct("h1s").alias("hset"))
    # a doc with NO shingles (empty/NULL token list) never produced a
    # groupBy row in the explode form; keep that contract — array_min of
    # an empty array is NULL, and a NULL sig would concat_ws-collapse
    # into a shared band key, buckets of nothing-in-common docs
    return hashed.filter(F.size("xs") > 0).select("doc", *cols)


def _hashed_jaccard(a_set: Column, b_set: Column) -> Column:
    inter = F.size(F.array_intersect(a_set, b_set))
    jac = inter / (F.size(a_set) + F.size(b_set) - inter)
    # floor(x*1e4+0.5), not round(): Jaccard is a small-denominator
    # rational that can land exactly on .00005 decimal boundaries, where
    # Spark's round (shortest decimal repr) disagrees with engines that
    # round the binary double; the floor form matches the latter always
    return F.floor(jac * 10_000 + F.lit(0.5)) / 10_000.0


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_perm: int = 12,
    band_size: int = 4,
    shingle_n: int = 2,
    threshold: float = 0.5,
    shingle_mode: str = "token",
    sig_form: str = "auto",
) -> DataFrame:
    """Near-duplicate pairs via MinHash LSH + exact-Jaccard verify.

    Plan: signatures (regime-dispatched, see minhash_signatures) →
    explode to
    (band_id, band_key) → self-join on the band bucket (shuffle on band
    key; AQE handles hot buckets) → distinct candidate pairs → verify
    against the hashed shingle sets (broadcast joins at bench scale;
    hash joins when candidates outgrow the threshold). Linear candidate
    generation — never an all-pairs join.

    Banding defaults (3 bands × 4 rows) put the S-curve midpoint near
    J≈0.7 with steep rolloff below: corpora with high baseline pairwise
    similarity (common in template-heavy web text) would otherwise flood
    the candidate join — measured 1.6M candidates (3% of all pairs) with
    4×2 banding on the synthetic corpus vs ~20k with 3×4. High-J true
    duplicates (J ≥ 0.85) are still caught with ≥95% probability.
    """
    if band_size <= 0 or n_perm % band_size != 0:
        # a silent remainder throws away trailing signatures (recall
        # quietly below the requested configuration), and band_size >
        # n_perm yields ZERO bands — no candidates, an always-empty
        # result with no error (r8 review). Misconfiguration must be
        # loud.
        raise ValueError(
            f"minhash_lsh_pairs: n_perm={n_perm} must be a positive "
            f"multiple of band_size={band_size}"
        )
    n_bands = n_perm // band_size
    # The signature table feeds the band self-join (2 sides) and the
    # verify join (2 more) — persist it so the shingle+hash subtree runs
    # once. At cluster scale this is the materialized signature table.
    # MEMORY_ONLY: the default (deser, disk-backed) level pays a 3x
    # slower columnar cache build for array columns (measured)
    sig = minhash_signatures(
        df, text_col, id_col, n_perm, shingle_n, with_hash_set=True,
        shingle_mode=shingle_mode, form=sig_form,
    ).transform(maybe_persist, StorageLevel.MEMORY_ONLY)
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.concat_ws(
                    "|", *[F.col(f"sig_{b * band_size + j}") for j in range(band_size)]
                ).alias("band_key"),
            )
            for b in range(n_bands)
        ]
    )
    exploded = sig.select("doc", F.explode(bands).alias("band")).select(
        "doc", "band.band_id", "band.band_key"
    )
    cand = (
        exploded.alias("a")
        .join(
            exploded.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .distinct()
    )
    hsets = sig.select("doc", "hset")
    out = (
        cand.join(hsets.alias("sa"), cand.id_a == F.col("sa.doc"))
        .join(hsets.alias("sb"), cand.id_b == F.col("sb.doc"))
        .withColumn("jaccard", _hashed_jaccard(F.col("sa.hset"), F.col("sb.hset")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    # materialize the (pairs-sized, small) verified output so the
    # signature cache releases NOW instead of accumulating across a
    # many-query session (caching.py; no-op under lazy_plans). The
    # physical profile it runs under is its input's session's: registry
    # queries build on their profile's (queries.SMALL_INPUT_BYTES).
    return materialize_and_release(out, sig)


def jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_cols: list[str],
    threshold: float,
    shingle_n: int = 2,
) -> DataFrame:
    """Blocked n-gram Jaccard near-dup pairs.

    All-pairs only WITHIN a block (equi-join on block columns), so the
    shuffle key is the block and the quadratic term is bounded by block
    size — the classic blocking strategy; for unblockable corpora use
    :func:`minhash_lsh_pairs` instead.
    """
    hashed = shingle_hashes(df, text_col, id_col, shingle_n)
    keys = df.select(F.col(id_col).alias("doc"), *[F.col(c) for c in block_cols])
    # persisted: both sides of the block self-join read this subtree.
    # Sort-merge on doc: without AQE the static size estimate of the
    # shingle-set aggregate can fall under the broadcast threshold, and
    # broadcasting it ships every set through the driver (sf0.1, local[4],
    # AQE off: 8.9 s per build as a broadcast, 5.1 s as a merge join)
    base = (
        hashed.groupBy("doc")
        .agg(F.collect_set("h1").alias("sh"))
        .hint("merge")
        .join(keys, "doc")
        .transform(maybe_persist, StorageLevel.MEMORY_ONLY)
    )
    a, b = base.alias("a"), base.alias("b")
    cond = F.col("a.doc") < F.col("b.doc")
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    out = (
        a.join(b, cond)
        .withColumn("jaccard", _hashed_jaccard(F.col("a.sh"), F.col("b.sh")))
        .filter(F.col("jaccard") >= threshold)
        .select(
            F.col("a.doc").alias("id_a"),
            F.col("b.doc").alias("id_b"),
            "jaccard",
        )
    )
    return materialize_and_release(out, base)


def simhash(df: DataFrame, text_col: str, id_col: str, bits: int = 16) -> DataFrame:
    """SimHash fingerprint: per-token md5 bits, majority vote per bit.

    Bit b of a token = high bit of hex nibble b of md5(token) (hex digit
    in [89abcdef]) — portable to any engine with md5. md5 has 32 hex
    nibbles, so ``bits`` is capped at 32: beyond it the substring is
    empty, the isin test constant-false, and every position silently
    votes -1 — a fake resolution the caller never sees (r8 review).
    The per-doc plan is explode(tokens) → groupBy(doc) with ``bits``
    conditional sums: one shuffle, map-side combinable. Tokenization is
    the module-wide _norm_tokens convention (one definition; text.py
    documents it as oracle-load-bearing).
    """
    if not 1 <= bits <= 32:
        raise ValueError(f"simhash: bits={bits} must be in [1, 32] (md5 nibbles)")
    from ..partitioning import spread_small_source

    toks = spread_small_source(df).select(
        F.col(id_col).alias("doc"),
        F.explode(_norm_tokens(F.col(text_col))).alias("tok"),
    ).withColumn("h", F.md5(F.col("tok")))
    votes = [
        F.sum(
            F.when(
                F.substring(F.col("h"), b + 1, 1).isin("8", "9", "a", "b", "c", "d", "e", "f"),
                F.lit(1),
            ).otherwise(F.lit(-1))
        ).alias(f"v_{b}")
        for b in range(bits)
    ]
    agg = toks.groupBy("doc").agg(*votes)
    fp = F.concat(
        *[F.when(F.col(f"v_{b}") > 0, F.lit("1")).otherwise(F.lit("0")) for b in range(bits)]
    )
    return agg.select("doc", fp.alias("simhash"))


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    driver_max_edges: int = 200_000,
) -> DataFrame:
    """Distributed connected components over a near-dup pair list:
    (node, cluster_id) where cluster_id = min node id in the component.

    Near-dup relations are NOT transitive (A~B, B~C does not imply A~C),
    so pair output alone under-merges: chains like A-B-C must collapse
    into one cluster before choosing a canonical representative. This is
    the standard corpus-dedup closing step (the reference's analogue is
    per-structure union-find in `catlas/nuclearity.py:65-83`, which is
    single-row scope; this operator is the corpus-scale version).

    Algorithm: iterative min-label propagation (hash-to-min). Every node
    starts labeled with itself; each round propagates labels across
    (bidirectional) edges and keeps the per-node min. Converges in
    O(graph diameter) rounds — near-dup clusters are near-cliques, so
    2-4 rounds in practice. Each round is one shuffle (groupBy node);
    lineage is truncated per round with localCheckpoint so the plan
    stays constant-size (on a real cluster prefer a reliable
    ``setCheckpointDir`` + ``checkpoint`` so executor loss can't drop
    cached blocks mid-iteration).

    The convergence test joins old vs new labels and looks for any
    change — a cheap sort-merge on the (already clustered) label table,
    short-circuited with limit(1).

    Regime dispatch (same planning discipline as
    ``set_containment_join_auto``): a single bounded ``limit(k+1)``
    probe collects the edge list iff it fits the driver threshold. At or
    below ``driver_max_edges`` the (bidirectional, distinct) edge list
    is closed with driver-side union-find: a graph that
    small pays more in per-round job scheduling (pin + convergence
    probe per round) than the whole closure costs locally, and this
    holds on a 1000-executor cluster too — near-dup match graphs are
    tiny fractions of the corpus, so the *corpus*-scale work stays
    distributed while the graph closure runs where it fits. The collect
    is bounded by the threshold by construction (~MBs), the same
    audited class as the partition-stats and centroid collects. Above
    the threshold (graphs that genuinely don't fit a driver) the
    distributed min-label loop below runs unchanged.
    """
    # NULL endpoints carry no linkage information and would diverge the
    # two regimes (F.min skips NULLs in the distributed loop; Python's
    # `<` raises on None in union-find) — drop them up front so both
    # regimes see the same graph
    clean = pairs.filter(F.col(src).isNotNull() & F.col(dst).isNotNull())
    # bidirection via explode, NOT union-of-two-selects (r9): the union
    # form executes the UPSTREAM PAIR PLAN twice — once per branch —
    # and near-dup pair generation (LSH banding, blocked cosine) is the
    # expensive subtree here, while the edge list it emits is tiny.
    # explode(array(fwd, rev)) emits both directions from ONE pass.
    # Measured at sf0.1: dedup_cluster_assign 4.5 -> 3.1 s warm median.
    edges = (
        clean.select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("s"), F.col(dst).alias("d")),
                    F.struct(F.col(dst).alias("s"), F.col(src).alias("d")),
                )
            ).alias("e")
        )
        .select("e.s", "e.d")
        .distinct()
        .persist(StorageLevel.MEMORY_ONLY)
    )
    # Size the per-round label shuffle to the GRAPH, not the session
    # default (the streaming state_partitions principle): every round
    # shuffles a label table bounded by the edge count, and on the
    # near-dup graphs this closes (tiny fractions of the corpus) 32
    # partitions are pure per-task overhead — measured 4.7 -> 2.6 s on
    # a 175-edge match graph. ~100k edges/partition; never RAISED above
    # the session setting, so billion-edge graphs keep their
    # parallelism. The count also materializes the edge cache the first
    # round would have built anyway.
    # Sizing is PER-PLAN (r7, closing VERDICT r6 #5): an explicit
    # ``repartition(n, key)`` ahead of each round's aggregation — the
    # aggregate's ClusteredDistribution is satisfied by the hash
    # partitioning, so no second exchange appears — instead of flipping
    # session-global spark.sql.shuffle.partitions for the loop's
    # duration, which leaked the tiny partition count into any plan the
    # session built concurrently. A/B on the forced-distributed sf0.1
    # graphs: wall-clock unchanged (within noise) with the conf
    # mutation gone. The value may be non-numeric under exotic configs
    # — fall back to the context default rather than crash.
    spark = pairs.sparkSession
    try:
        sess_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        sess_parts = spark.sparkContext.defaultParallelism
    # Under lazy_plans (explain/plan-sweep tooling) the driver regime is
    # SKIPPED (r8 review, the graph.py regime-dispatch discipline): its
    # result is a ``local_frame`` LocalRelation (the labels as literal
    # rows) that hides the whole upstream pair pipeline from every plan
    # assertion, and the probe collect is a pointless action in an
    # explain-only context. The
    # distributed min-label loop below is the representative plan; its
    # pins persist (visible subtrees) per the r7 lazy_plans design.
    from ..caching import is_materializing

    rows = None
    if is_materializing():
        # single bounded probe action (the triangle_participation
        # discipline): limit(k+1) returns the WHOLE edge list when it
        # fits the driver threshold and at most k+1 rows when it does
        # not, so the small-graph path pays one action instead of a
        # count + a collect. The distributed branch still counts (it
        # right-sizes the round shuffles); its count completes whatever
        # cache partitions the probe left unbuilt.
        try:
            rows = edges.limit(driver_max_edges + 1).collect()
        except Exception:
            # release on the error path too (fetch failure mid-collect)
            # — same stale-canonicalized-plan hazard as the distributed
            # regime's finally below
            release(edges)
            raise
    if rows is not None and len(rows) <= driver_max_edges:
        release(edges)
        parent: dict = {}

        def _find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for r in rows:
            s_, d_ = r["s"], r["d"]
            parent.setdefault(s_, s_)
            parent.setdefault(d_, d_)
            rs, rd = _find(s_), _find(d_)
            if rs != rd:
                parent[rd] = rs
        comp_min: dict = {}
        for n in parent:
            root = _find(n)
            m = comp_min.get(root)
            if m is None or n < m:
                comp_min[root] = n
        ntype = edges.schema["s"].dataType
        from pyspark.sql import types as T

        return local_frame(
            spark,
            [(n, comp_min[_find(n)]) for n in parent],
            T.StructType(
                [
                    T.StructField("node", ntype),
                    T.StructField("cluster_id", ntype),
                ]
            ),
        )
    del rows
    n_edges = edges.count()
    right_size = max(1, min(sess_parts, n_edges // 100_000 + 1))
    try:
        # init FUSED with propagation round 1: the first hash-to-min
        # round is label(v) = min(v, min neighbor of v), which needs no
        # join — it is one aggregation straight off the edge list. The
        # loop therefore starts at round 2; a full join round (~0.5 s of
        # fixed cost at any graph size) disappears from every call
        # (measured 2.0 -> 1.5 s, identical labels).
        labels = (
            edges.repartition(right_size, "s")
            .groupBy("s")
            .agg(F.min("d").alias("__md"))
            .select(
                F.col("s").alias("node"),
                F.least(F.col("s"), F.col("__md")).alias("label"),
            )
        )
        from ..caching import pin

        labels = pin(labels)
        for _ in range(max_iter):
            prop = edges.join(
                labels, edges["s"] == labels["node"]
            ).select(F.col("d").alias("node"), "label")
            # fold the old label into the checkpointed round result so the
            # convergence test is a filter over cached blocks, not a second
            # shuffle join per round
            merged = (
                labels.union(prop)
                .repartition(right_size, "node")
                .groupBy("node")
                .agg(F.min("label").alias("label"))
                .join(labels.select("node", F.col("label").alias("__old")), "node")
            )
            merged = pin(merged)
            changed = merged.filter(F.col("label") != F.col("__old")).limit(1).count()
            labels = merged.select("node", "label")
            if changed == 0:
                break
        else:
            # min labels travel ONE hop per round: exiting the loop still
            # changing means the graph diameter exceeds max_iter and the
            # labels are SPLIT clusters — returning them silently would
            # keep duplicate representatives downstream
            raise RuntimeError(
                f"connected_components did not converge within max_iter="
                f"{max_iter} rounds (graph diameter too large); raise max_iter"
            )
    finally:
        # release INSIDE the finally: on the non-convergence raise the
        # MEMORY_ONLY edge cache would otherwise stay pinned in the
        # CacheManager for the rest of the session — exactly the
        # stale-canonicalized-plan hazard documented above (ADVICE r6)
        release(edges)
    return labels.select("node", F.col("label").alias("cluster_id"))


def contamination_flags(
    train: DataFrame,
    eval_set: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    min_shared: int = 5,
) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing at least
    ``min_shared`` distinct token ``shingle_n``-grams with ANY eval doc.

    Plan: explode train shingles (corpus-sized, codegen) → semi-join
    against the DISTINCT eval shingle set (eval sets are small —
    broadcast; at 100 TB the train side streams through map-side joins
    with no shuffle of the corpus) → per-doc distinct count → threshold.
    Returns (doc, n_shared) for contaminated docs only.
    """
    train_sh = train.select(
        F.col(id_col).alias("doc"),
        F.explode(token_shingles(F.col(text_col), shingle_n)).alias("s"),
    )
    eval_sh = (
        eval_set.select(
            F.explode(token_shingles(F.col(text_col), shingle_n)).alias("s")
        )
        .distinct()
    )
    return (
        train_sh.join(F.broadcast(eval_sh), "s", "left_semi")
        .groupBy("doc")
        .agg(F.count_distinct("s").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def banded_embedding_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    block_col: str | None = None,
    n_bands: int = 4,
    band_bits: int = 4,
    threshold: float = 0.35,
) -> DataFrame:
    """Embedding near-dup pairs via sign-LSH bands — the scale path that
    replaces the blocked all-pairs join of ``dedup_embedding_cosine``
    (quadratic in block size; see reference blocked grouping at
    `catlas/filters.py:290-296` for the per-group shape).

    Band j's bucket is the packed signs of vector components
    [j*band_bits+1 .. +band_bits]; a pair becomes a CANDIDATE when it
    agrees on ANY band (and ``block_col`` when given). Candidate
    generation is explode(n_bands) + an equi-join on
    (block, band, bucket) — linear scan, shuffle on the band key, never
    all-pairs. Each band keeps ~2^-band_bits of pairs, so the verify
    stage costs ~n_bands/2^band_bits of the quadratic join (1/4 here)
    BEFORE counting the concentration of true near-dups in shared
    buckets. Deterministic (signs of the data itself), so an external
    oracle reproduces candidates bit-for-bit.

    Verification is exact cosine ≥ threshold with per-ROW norms
    precomputed before the join (the invariant-hoisting win measured on
    dedup_embedding_cosine), so banding only ever REMOVES candidate
    pairs; reported similarity values are identical to the exact join's.
    """
    from ..functions.vector import band_sign_bucket, dot, norm

    block = [block_col] if block_col else []
    base = df.select(
        *block,
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        norm(F.col(vec_col)).alias("nm"),
        *[
            band_sign_bucket(F.col(vec_col), j, band_bits).alias(f"b{j}")
            for j in range(n_bands)
        ],
    ).transform(maybe_persist, StorageLevel.MEMORY_ONLY)
    bands = base.select(
        *block,
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band"), F.col(f"b{j}").alias("bucket")
                    )
                    for j in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select(*block, "id", "bb.band", "bb.bucket")
    a = bands.select(*block, "band", "bucket", F.col("id").alias("id_a"))
    b = bands.select(*block, "band", "bucket", F.col("id").alias("id_b"))
    cand = (
        a.join(b, [*block, "band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = base.select(
        F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("nm").alias("na")
    )
    vb = base.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("nm").alias("nb")
    )
    out = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                # try_divide: a zero-norm embedding in a shared bucket is
                # a NULL sim (fails the threshold), not an ANSI
                # DIVIDE_BY_ZERO abort of the whole dedup job (r8)
                F.try_divide(
                    dot(F.col("va"), F.col("vb")), F.col("na") * F.col("nb")
                ),
                4,
            ).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )
    return materialize_and_release(out, base)


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    shingle_n: int = 2,
) -> DataFrame:
    """Directional containment near-dup pairs: (a, b) where
    |shingles(a) ∩ shingles(b)| / |shingles(a)| ≥ threshold — the
    asymmetric variant Jaccard misses (an excerpt is ~fully contained
    in its source doc but their Jaccard is only ~|a|/|b|).

    Two phases (the PPJoin filter-verify shape, exact recall):

    1. CANDIDATES from a PREFIX-filtered inverted index. A qualifying
       probe doc ``a`` (n shingles) may miss at most ⌊(1−t)·n⌋ of them
       in ``b``, so any ⌊(1−t)·n⌋+1 of a's shingles must hit b — index
       only a's that-many globally-RAREST shingles (df ascending) and
       join them against the FULL postings of the b side. Recall is
       exact by the pigeonhole bound; cost is Σ prefix_len(h)·df(h),
       where stop-shingles (huge df) almost never appear in any prefix
       because the prefix takes the rarest. A fixed df cap (the old
       strategy) loses recall on any corpus whose true-pair shingles
       all exceed the cap — exactly the high-df regime of small-
       vocabulary or boilerplate-heavy text.
    2. VERIFY candidates exactly against the FULL hashed shingle sets
       (array_intersect on long arrays), so the prefix never changes a
       reported containment value.

    The prefix length uses t−1e-4, not t, because the verify stage
    rounds containment to 4 decimals before comparing (cross-engine
    float convention): a pair at raw containment t−5e-5 rounds up to
    qualify, so the miss budget must cover it.

    Both PPJoin pair-pruning filters run INSIDE the candidate stage
    (pure pruning, recall-exact — the measured funnel at sf0.1 is
    32.3M raw collisions → 20.8M after the in-join length filter →
    16.1M distinct pairs → 14.4M after the positional filter → 6,747
    verified pairs):

    - LENGTH filter in the candidate join condition: |a∩b| ≤ n_b, so
      containment ≥ t needs n_b ≥ (t−ε)·n_a — disqualified collisions
      never reach the pair aggregation.
    - POSITIONAL filter (PPJoin's ubound, tightened) on the aggregated
      pairs. The candidate join probes b's COMPLETE postings, so an
      a-prefix entry with no collision against b is PROVEN absent from
      b: overlap = hits + |suffix(a) ∩ b| with |suffix(a)| = n_a − P_a
      (P_a = a's prefix length). For the b side, postings of every doc
      are ranked in ONE global (df, h1) order, so a common shingle in
      a's suffix has global order above every matched prefix entry and
      sits after position m_b in b. Hence
      overlap ≤ hits + min(n_a−P_a, n_b−m_b), where hits/m_b are the
      count and deepest b-position of the matched prefix collisions;
      pairs whose bound misses (t−ε)·n_a are dropped before the
      long-array intersect. ε matches the round-to-4-decimals verify
      tolerance everywhere. (The r11 form used a's deepest MATCHED
      position m_a ≤ P_a — strictly looser.)
    """
    # the shingle explode+hash+dedup subtree feeds every downstream
    # consumer — persist it or the corpus-sized explode re-executes per
    # consumer. ONE h1 exchange serves the dedup and the df window (the
    # explicit hash repartition on h1 satisfies dropDuplicates'
    # clustering since h1 is a subset of the dedup key, and the
    # persisted cache KEEPS that partitioning).
    hashed = (
        shingle_hashes(df, text_col, id_col, shingle_n)
        .select("doc", "h1")
        .repartition("h1")
        .dropDuplicates(["doc", "h1"])
        .transform(maybe_persist, StorageLevel.MEMORY_ONLY)
    )
    # ONE doc-keyed exchange ranks every posting globally-rarest-first
    # (ties on h1: total and identical across docs, so rn is a global
    # ordering position) and carries the doc size; `ranked` then serves
    # the prefix, the full-postings join side AND the sets build. The
    # collect_set groupBy rides that doc partitioning exchange-free ONLY
    # when `ranked` is actually persisted (materializing mode): under
    # lazy_plans the optimizer column-prunes the sets subtree back to
    # the raw explode and pays its own h1+doc exchanges (ADVICE r11 —
    # the plan dumps show that lazy shape, not the executed one).
    ranked = (
        hashed.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("h1"))
        )
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("doc").orderBy("df", "h1")),
        )
        .withColumn(
            "n_sh", F.count(F.lit(1)).over(Window.partitionBy("doc"))
        )
        .select("doc", "h1", "rn", "n_sh")
        .transform(maybe_persist, StorageLevel.MEMORY_ONLY)
    )
    # full sets for exact verify; reused by both verify join sides
    # (doc sizes ride the candidate aggregate's n_a/n_b — the old
    # F.max(n_sh) here was dead weight, ADVICE r11)
    sets = (
        ranked.groupBy("doc")
        .agg(F.collect_set("h1").alias("hset"))
        .transform(maybe_persist, StorageLevel.MEMORY_ONLY)
    )
    eps_t = F.lit(threshold) - F.lit(1e-4)
    # a qualifying probe may miss at most ⌊(1−t+ε)·n⌋ shingles, so keep
    # that many + 1 rarest-first entries; the prefix is ~(1−t) of the
    # postings, so everything downstream shrinks with it.
    # Scale note on the candidate join's b side (ADVICE r11): at bench
    # scale the optimizer BROADCASTS the doc-partitioned `ranked`
    # postings (measured faster than the old h1-partitioned probe); at
    # corpus sizes past the broadcast threshold the planner falls back
    # to a shuffle join and pays h1 exchanges on both sides — the
    # classic prefix-filter index shuffle, still Σ prefix·df bounded.
    miss_budget = F.floor((1.0 - threshold + 1e-4) * F.col("n_sh"))
    prefix = ranked.filter(F.col("rn") <= miss_budget + 1)
    cand = (
        prefix.alias("a")
        .join(
            ranked.alias("b"),
            (F.col("a.h1") == F.col("b.h1"))
            & (F.col("a.doc") != F.col("b.doc"))
            # length filter INSIDE the join: collisions that cannot
            # qualify never reach the pair aggregation (32.3M → 20.8M
            # at sf0.1)
            & (F.col("b.n_sh") >= eps_t * F.col("a.n_sh")),
        )
        # pair aggregation replaces the old distinct() and is equally
        # exchange-free: the stream side is doc-partitioned by the rn
        # window, id_a = that doc key, so grouping on (id_a, ...) needs
        # no new exchange. n_a/n_b are functionally dependent on the
        # ids; hits/m_b feed the positional bound.
        .groupBy(
            F.col("a.doc").alias("id_a"),
            F.col("b.doc").alias("id_b"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("hits"),
            F.max(F.col("b.rn")).alias("m_b"),
        )
        # positional filter: overlap ≤ hits + min(n_a−P_a, n_b−m_b)
        # (proof in the docstring) — pairs whose upper bound cannot
        # reach (t−ε)·n_a skip the verify intersect entirely. The a-side
        # term uses the FULL prefix length P_a, not the deepest matched
        # position m_a (r12): the candidate join probes b's COMPLETE
        # postings, so an a-prefix entry with no collision is PROVEN
        # absent from b — only the n_a−P_a suffix entries can still
        # overlap. P_a ≥ m_a, so this bound is tighter and equally
        # recall-exact.
        .filter(
            F.col("hits")
            + F.least(
                F.col("n_a")
                - F.least(
                    F.floor((1.0 - threshold + 1e-4) * F.col("n_a")) + 1,
                    F.col("n_a"),
                ),
                F.col("n_b") - F.col("m_b"),
            )
            >= eps_t * F.col("n_a")
        )
    )
    sa = sets.select(F.col("doc").alias("id_a"), F.col("hset").alias("set_a"))
    sb = sets.select(F.col("doc").alias("id_b"), F.col("hset").alias("set_b"))
    out = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "containment",
            F.floor(
                F.size(F.array_intersect("set_a", "set_b")) / F.col("n_a") * 10_000
                + F.lit(0.5)
            )
            / 10_000.0,
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )
    return materialize_and_release(out, sets, ranked, hashed)


def containment_pairs_banded(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    shingle_n: int = 2,
    n_perm: int = 12,
    band_size: int = 4,
    sig_form: str = "auto",
) -> DataFrame:
    """Approximate directional containment — the banded-candidate escape
    hatch for corpora where exact PPJoin prefix filtering degenerates.

    :func:`containment_pairs` is recall-exact and is the default: its
    candidate cost is Σ prefix·df, tiny on natural text (the prefix
    takes the globally-rarest shingles). On ADVERSARIAL corpora — tiny
    vocabulary, boilerplate-heavy, every shingle high-df — that sum
    approaches all-pairs and no exact prefix scheme can beat it. This
    variant reuses the regime-dispatched MinHash signature builder and
    the LSH banding machinery for CANDIDATE generation (linear: each doc
    emits n_perm/band_size bucket keys, candidates come from bucket
    self-joins — never all-pairs), then runs the SAME exact verify as
    the exact operator (full hashed shingle sets, array_intersect,
    floor-round to 4), so reported containment VALUES are exact; only
    RECALL is approximate.

    Recall contract (stated, not hidden): a pair (a, b) is a candidate
    only if some band of a's minhash signature equals b's. For
    directional containment c = |a∩b|/|a|, the band-collision
    probability is driven by the SYMMETRIC Jaccard
    J = |a∩b|/|a∪b| ≥ c·n_a/(n_a+n_b): with the 3×4 default a
    contained pair at J=0.7 is caught w.p. ~0.56, J=0.5 w.p. ~0.18 per
    the standard 1−(1−J^r)^b curve — reliable for near-equal-size
    containment (the adversarial-corpus regime this exists for, where
    excerpt and source share most shingles), best-effort for extreme
    size skew, where the exact operator remains the right tool because
    a tiny excerpt's rare-shingle prefix is cheap there.
    """
    sig = minhash_signatures(
        df, text_col, id_col, n_perm, shingle_n, with_hash_set=True, form=sig_form
    ).transform(maybe_persist, StorageLevel.MEMORY_ONLY)
    n_bands = n_perm // band_size
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.concat_ws(
                    "|", *[F.col(f"sig_{b * band_size + j}") for j in range(band_size)]
                ).alias("band_key"),
            )
            for b in range(n_bands)
        ]
    )
    exploded = sig.select(
        "doc", F.size("hset").alias("n_sh"), F.explode(bands).alias("band")
    ).select("doc", "n_sh", "band.band_id", "band.band_key")
    cand = (
        exploded.alias("a")
        .join(
            exploded.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            # DIRECTIONAL: both orientations of a colliding pair are
            # candidates (a⊂b and b⊂a are distinct questions) — only
            # the self-pair drops
            & (F.col("a.doc") != F.col("b.doc"))
            # same recall-exact length prune as the exact operator,
            # applied IN the band join (|a∩b| ≤ n_b, so containment ≥ t
            # needs n_b ≥ (t−ε)·n_a): pruned collisions never reach the
            # pair distinct or the hset-attach joins — result-identical
            # to the old post-join filter, measured ~10% CPU cheaper
            & (F.col("b.n_sh") >= (F.lit(threshold) - F.lit(1e-4)) * F.col("a.n_sh")),
        )
        .select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .distinct()
    )
    hsets = sig.select("doc", "hset")
    out = (
        cand.join(hsets.alias("sa"), cand.id_a == F.col("sa.doc"))
        .join(hsets.alias("sb"), cand.id_b == F.col("sb.doc"))
        .withColumn(
            "containment",
            F.floor(
                F.size(F.array_intersect(F.col("sa.hset"), F.col("sb.hset")))
                / F.size(F.col("sa.hset"))
                * 10_000
                + F.lit(0.5)
            )
            / 10_000.0,
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )
    return materialize_and_release(out, sig)


def _norm_tokens(text: Column) -> Column:
    """Whitespace tokens of the lowercased, whitespace-stripped text (the
    corpus-wide normalization every cross-engine hash in this module
    builds on — functions.text's explicit-class convention; trim()/\\s+
    diverged from the RE2 oracles on tab-fringed and \\x0B text)."""
    from ..functions.text import WS, ws_strip

    return F.split(F.regexp_replace(F.lower(ws_strip(text)), WS + "+", " "), " ")


def chunk_dedup_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    chunk_tokens: int = 10,
    min_docs: int = 5,
) -> DataFrame:
    """Paragraph-level (fixed-chunk) boilerplate detection — the C4 /
    RefinedWeb-style cleanup that removes spans repeated across many
    documents (cookie banners, nav text) while keeping the rest of the
    doc. No reference counterpart (LLM-pipeline extension).

    Each doc is cut into fixed ``chunk_tokens``-token chunks; a chunk
    seen in ≥ ``min_docs`` DISTINCT docs is boilerplate. Output: one row
    per doc WITH AT LEAST ONE TOKEN — (id, n_chunks, n_boilerplate,
    boiler_frac). An empty/whitespace-only doc produces zero regex
    matches and therefore NO output row (same zero-token no-row contract
    as the minhash family; callers needing every doc id left-join back).

    Plan shape (r10): chunks come from ONE codegen regex over the
    normalized text (consecutive non-overlapping matches of up to
    ``chunk_tokens`` tokens — the greedy {0,k-1} tail keeps the final
    short chunk, matching the old ceil() semantics), exploded once;
    distinct-doc frequency is max(dense_rank) over the chunk partition
    (one chunk-keyed exchange, replacing the groupBy + count_distinct
    Expand + join-back — same-session A/B 1.27 → 1.16 s with the
    interpreted transform/slice chunk build also gone); never
    all-pairs.

    CAVEAT (by construction): fixed windows are shift-sensitive — a
    banner PREPENDED to documents aligns at chunk 0 and is caught; the
    same banner APPENDED lands at a different offset in every doc and is
    missed. :func:`cdc_chunk_stats` is the shift-robust variant.
    """
    from ..functions.text import WS, ws_strip
    from ..partitioning import spread_small_source

    norm = F.regexp_replace(F.lower(ws_strip(F.col(text_col))), WS + "+", " ")
    pat = r"\S+(?: \S+){0,%d}" % (chunk_tokens - 1)
    # a small single-row-group corpus scans as ONE task; spread before
    # the tokenize/chunk map phase so it uses every core
    exploded = spread_small_source(df).select(
        F.col(id_col).alias("doc"),
        F.explode(F.regexp_extract_all(norm, F.lit(pat), 0)).alias("chunk"),
    )
    wc = Window.partitionBy("chunk").orderBy("doc")
    nd = F.max(F.dense_rank().over(wc)).over(Window.partitionBy("chunk"))
    return (
        exploded.withColumn("__nd", nd)
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("__nd") >= min_docs, 1).otherwise(0)).alias(
                "n_boilerplate"
            ),
        )
        .withColumn(
            # floor(x*1e4+0.5)/1e4, not round(): ratios of small ints hit
            # the Spark-vs-DuckDB double-rounding divergence systematically
            "boiler_frac",
            F.floor(F.col("n_boilerplate") / F.col("n_chunks") * 10000 + 0.5) / 10000,
        )
    )


def cdc_chunk_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    boundary_mod: int = 4,
    min_docs: int = 5,
) -> DataFrame:
    """Content-defined chunking (CDC) shared-span detection — the
    shift-robust counterpart of :func:`chunk_dedup_stats`.

    Chunk boundaries are decided by the CONTENT (a token whose hash ≡ 0
    mod ``boundary_mod`` starts a new chunk), not by position, so an
    insertion or prefix shift changes only the chunks it touches — the
    storage-dedup trick (Rabin chunking) applied to corpus text. A
    banner appended at arbitrary offsets still produces identical chunk
    strings everywhere and is caught by the same document-frequency
    test fixed windows miss.

    Plan: posexplode tokens (codegen) → boundary flag from the portable
    md5-derived hash → chunk id as a running sum per doc (one window) →
    chunk strings via sort_array(collect_list(struct(pos, tok))) — order
    restored without a second shuffle — → distinct-doc frequency as
    max(dense_rank) over the chunk partition (one chunk-keyed
    exchange+sort; replaced the r9 groupBy + count_distinct Expand +
    join-back, which paid the aggregation AND a join exchange of the
    full chunk table — r10 same-session A/B 1.40 → 1.21 s, identical
    rows). Expected chunk length is ``boundary_mod`` tokens.

    Output per doc: (id, n_chunks, n_shared, shared_frac).
    """
    from ..partitioning import spread_small_source

    toks = spread_small_source(df).select(
        F.col(id_col).alias("doc"),
        F.posexplode(_norm_tokens(F.col(text_col))).alias("pos", "tok"),
    )
    boundary = (
        F.conv(F.substring(F.md5(F.col("tok")), 1, 7), 16, 10).cast("long")
        % boundary_mod
        == 0
    ).cast("int")
    from pyspark.sql import Window

    w = (
        Window.partitionBy("doc")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    chunked = toks.withColumn("chunk_id", F.sum(boundary).over(w))
    chunks = chunked.groupBy("doc", "chunk_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("chunk")
    )
    # distinct docs per chunk without a count_distinct aggregate + join
    # back: dense_rank over (chunk, doc) peaks at the distinct-doc count
    # (duplicate in-doc chunk strings share a rank), and the max over
    # the same chunk partition lands it on every row — one exchange.
    wc = Window.partitionBy("chunk").orderBy("doc")
    nd = F.max(F.dense_rank().over(wc)).over(Window.partitionBy("chunk"))
    return (
        chunks.withColumn("__nd", nd)
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("__nd") >= min_docs, 1).otherwise(0)).alias("n_shared"),
        )
        .withColumn(
            "shared_frac",
            F.floor(F.col("n_shared") / F.col("n_chunks") * 10000 + 0.5) / 10000,
        )
    )
