"""Tokenizer-training operators: distributed BPE merge learning.

Reference parity: the reference has no tokenizer trainer — this is part
of the LLM-training-data extension surface (alongside dedup / quality /
packing), mirroring how Sennrich et al. 2016 BPE is trained at corpus
scale: the corpus is first reduced to a word-frequency histogram (the
only corpus-sized shuffle), and every merge iteration then runs over the
histogram, which is vocabulary-sized (≪ corpus) by construction. That
two-phase shape is exactly what survives 100 TB: one groupBy over the
corpus, then an iterative loop whose working set is a few thousand rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.local import local_frame

# Bounded-collect driver regime threshold (the connected_components /
# triangle_participation discipline): when the VOCABULARY fits under
# this many words, the merge loop runs as plain Python on the driver —
# the histogram is already the only corpus-sized reduction, and 3
# distributed merge iterations over a vocabulary-sized table are ~10
# scheduler-floor jobs (~1.2 s at sf0.1) doing work a dict comprehension
# finishes in microseconds. At real-corpus scale the vocabulary exceeds
# the cap and the distributed loop below is the regime that runs; both
# regimes are forced + hash-compared by scripts/regime_gate.py.
DRIVER_MAX_VOCAB = 65536


def _apply_merge(seg: DataFrame, a: str, b: str) -> DataFrame:
    """Apply one BPE merge (a, b) → a||b to a segmentation table
    (word, cnt, pos, sym), with BPE's left-to-right greedy non-overlap
    rule: in a run of consecutive match positions (which only arises
    when b == a, e.g. 'aaaa' under (a,a)), every other occurrence merges
    — 'aaaa' → 'aa','aa', not three overlapping pairs. The run-parity
    selection is pure window algebra (gaps-and-islands over match
    positions), so the identical logic replays in the SQL oracle."""
    w = Window.partitionBy("word").orderBy("pos")
    with_n = seg.withColumn("nxt", F.lead("sym").over(w))
    matches = with_n.filter((F.col("sym") == a) & (F.col("nxt") == b)).select(
        "word", "pos"
    )
    runs = matches.withColumn(
        "brk", F.when(F.col("pos") - F.lag("pos").over(w) == 1, 0).otherwise(1)
    ).withColumn("runid", F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    sel = (
        runs.withColumn(
            "rn", F.row_number().over(Window.partitionBy("word", "runid").orderBy("pos"))
        )
        .filter(F.col("rn") % 2 == 1)
        .select("word", "pos")
    )
    # ONE broadcast of a marker table instead of two (r8 job-count cut:
    # each broadcast exchange was its own AQE stage materialization, ×2
    # per merge iteration): a merge START (pos, mk=1) and its absorbed
    # right neighbor (pos+1, mk=2) are disjoint (starts within a run are
    # 2 apart; runs are non-adjacent), so the union keys are unique and
    # a single left join recovers both flags. Vocabulary-sized, as
    # before.
    marks = F.broadcast(
        sel.select("word", "pos", F.lit(1).alias("mk")).unionAll(
            sel.select("word", (F.col("pos") + 1).alias("pos"), F.lit(2).alias("mk"))
        )
    )
    return (
        with_n.join(marks, ["word", "pos"], "left")
        .filter(F.col("mk").isNull() | (F.col("mk") == 1))
        .withColumn(
            "sym2",
            F.when(F.col("mk") == 1, F.concat("sym", "nxt")).otherwise(F.col("sym")),
        )
        .withColumn("pos2", F.row_number().over(w))
        .select("word", "cnt", F.col("pos2").alias("pos"), F.col("sym2").alias("sym"))
    )


def _merge_word_py(syms: list[str], a: str, b: str) -> list[str]:
    """Pure-Python twin of :func:`_apply_merge` for one word: greedy
    left-to-right non-overlapping replacement of adjacent (a, b) — the
    linear scan IS the run-parity rule (after merging at i the scan
    resumes at i+2, so within a run of match positions the 1st, 3rd, …
    merge, exactly the rn % 2 == 1 selection of the window form)."""
    out: list[str] = []
    i, n = 0, len(syms)
    while i < n:
        if i + 1 < n and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _learn_merges_py(
    vocab: list[tuple[str, int]], n_merges: int, apply_last: bool
) -> tuple[list[tuple[int, str, str, str, int]], dict[str, list[str]]]:
    """Pure-Python twin of :func:`_learn_merges` over a collected
    (word, cnt) vocabulary. Pair counts include overlapping adjacencies
    ('aaa' counts (a,a) twice — matching the lead-window form); arg-max
    ties break lexicographically on (left, right), which for Python
    str comparison (code points) matches Spark's UTF8String ordering."""
    seg: dict[str, list[str]] = {w: list(w) for w, _ in vocab}
    cnts = dict(vocab)
    merges: list[tuple[int, str, str, str, int]] = []
    for step in range(1, n_merges + 1):
        pair_counts: dict[tuple[str, str], int] = {}
        for w, syms in seg.items():
            c = cnts[w]
            for i in range(len(syms) - 1):
                k = (syms[i], syms[i + 1])
                pair_counts[k] = pair_counts.get(k, 0) + c
        if not pair_counts:
            break
        (a, b), pc = min(
            pair_counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((step, a, b, a + b, pc))
        if step < n_merges or apply_last:
            for w in seg:
                seg[w] = _merge_word_py(seg[w], a, b)
    return merges, seg


def _collect_vocab_if_small(
    word_counts: DataFrame,
    word_col: str,
    count_col: str,
    driver_max_vocab: int | None,
) -> list[tuple[str, int]] | None:
    """Single bounded probe action (the connected_components
    discipline): limit(cap+1) returns the WHOLE vocabulary when it fits
    and at most cap+1 rows when it does not. Returns None when the
    driver regime must not run: vocabulary too large, cap 0 (forced
    distributed), or an explain-only context (lazy_plans — the
    ``local_frame`` LocalRelation would hide the whole distributed loop
    from plan assertions, and the probe is a pointless action there)."""
    from ..caching import is_materializing

    cap = DRIVER_MAX_VOCAB if driver_max_vocab is None else driver_max_vocab
    if cap <= 0 or not is_materializing():
        return None
    rows = word_counts.select(word_col, count_col).limit(cap + 1).collect()
    if len(rows) > cap:
        return None
    return [(r[0], int(r[1])) for r in rows]


def bpe_train(
    word_counts: DataFrame,
    word_col: str = "word",
    count_col: str = "cnt",
    n_merges: int = 3,
    driver_max_vocab: int | None = None,
) -> DataFrame:
    """Learn ``n_merges`` BPE merges from a word-frequency table.

    Input: (word, count) — the output of the corpus-sized groupBy, the
    standard BPE training input (no end-of-word marker; plain character
    alphabet). Each iteration: adjacent-pair counts weighted by word
    frequency (a lead window + one map-side-combinable groupBy over the
    vocabulary-sized segmentation table), the arg-max pair (ties broken
    lexicographically on (left, right) for cross-engine determinism) is
    collected to the driver — a single row per iteration, the same
    "tiny model state drives the next distributed step" shape as
    ``kmeans_lloyd`` centroids — and applied everywhere via
    :func:`_apply_merge`. The segmentation is localCheckpoint-ed per
    iteration so the plan stays constant-size across merges.

    Returns (step, left_sym, right_sym, merged, pair_count): the learned
    merge table, k rows. Later steps' counts depend on earlier merges
    having been applied correctly corpus-wide, so an oracle replay of
    this table certifies the application logic too.
    """
    spark = word_counts.sparkSession
    vocab = _collect_vocab_if_small(
        word_counts, word_col, count_col, driver_max_vocab
    )
    if vocab is not None:
        merges, _ = _learn_merges_py(vocab, n_merges, apply_last=False)
    else:
        merges, _ = _learn_merges(
            _char_segmentation(word_counts, word_col, count_col),
            n_merges,
            apply_last=False,
        )
    return local_frame(
        spark,
        merges,
        T.StructType.fromDDL(
            "step INT, left_sym STRING, right_sym STRING, merged STRING, pair_count BIGINT"
        ),
    )


def bpe_segment_words(
    word_counts: DataFrame,
    word_col: str = "word",
    count_col: str = "cnt",
    n_merges: int = 3,
    driver_max_vocab: int | None = None,
) -> DataFrame:
    """Train ``n_merges`` BPE merges on the word-frequency table and
    return the final VOCABULARY segmentation — (word, cnt, pos, sym)
    with every learned merge (including the last) applied. This is the
    encode half of the tokenizer: segmenting the vocabulary once and
    broadcast-joining it back to the corpus is how BPE encoding runs at
    100 TB — the merge loop never touches the corpus, and the per-doc
    application is a map-side join on the word key, not an iterative
    pass over every document."""
    vocab = _collect_vocab_if_small(
        word_counts, word_col, count_col, driver_max_vocab
    )
    if vocab is not None:
        _, seg_py = _learn_merges_py(vocab, n_merges, apply_last=True)
        cnts = dict(vocab)
        return local_frame(
            word_counts.sparkSession,
            [
                (w, cnts[w], i + 1, sym)
                for w, syms in seg_py.items()
                for i, sym in enumerate(syms)
            ],
            T.StructType.fromDDL("word STRING, cnt BIGINT, pos INT, sym STRING"),
        )
    _, seg = _learn_merges(
        _char_segmentation(word_counts, word_col, count_col),
        n_merges,
        apply_last=True,
    )
    return seg


def _char_segmentation(
    word_counts: DataFrame, word_col: str, count_col: str
) -> DataFrame:
    """Initial character-level segmentation table (word, cnt, pos, sym)."""
    return word_counts.select(
        F.col(word_col).alias("word"),
        F.col(count_col).cast("long").alias("cnt"),
        # split on the empty pattern, NOT regexp_extract_all(".") —
        # Java "." excludes line terminators (U+2028/U+2029/U+0085),
        # which would silently drop characters the oracle's
        # substr(word, i, 1) keeps
        F.posexplode(F.split(F.col(word_col), "")),
    ).select("word", "cnt", (F.col("pos") + 1).alias("pos"), F.col("col").alias("sym"))


def _learn_merges(
    seg: DataFrame, n_merges: int, apply_last: bool
) -> tuple[list[tuple[int, str, str, str, int]], DataFrame]:
    """The shared merge loop: per iteration, adjacent-pair counts →
    deterministic arg-max (ties lexicographic on (left, right)) →
    greedy application via :func:`_apply_merge`. ``apply_last`` is the
    train/encode split: training only needs the counts of the last pair
    (bpe_train), encoding needs the segmentation AFTER it
    (bpe_segment_words). Returns (merge table rows, final seg).

    Iteration pins stay pin() (localCheckpoint): a persist-based pin
    that in PRINCIPLE preserves the hash(word) partitioning/ordering
    for the next iteration's lead window was measured and REJECTED —
    under AQE the cached plan is adaptive, its final partitioning is
    unknown at the consumer's planning time, so the exchange is paid
    anyway AND the eager count through the full plan costs more than
    the checkpoint's direct RDD materialization (19 vs 20 jobs,
    2.3-2.7 s vs 1.8-2.0 s warm at sf0.1, same session back-to-back).
    """
    from ..caching import pin

    seg = pin(seg)
    merges: list[tuple[int, str, str, str, int]] = []
    for step in range(1, n_merges + 1):
        w = Window.partitionBy("word").orderBy("pos")
        pairs = (
            seg.withColumn("nxt", F.lead("sym").over(w))
            .filter(F.col("nxt").isNotNull())
            .groupBy("sym", "nxt")
            .agg(F.sum("cnt").alias("pair_count"))
        )
        best = pairs.orderBy(F.col("pair_count").desc(), "sym", "nxt").limit(1).collect()
        if not best:
            break
        a, b, pc = best[0]["sym"], best[0]["nxt"], int(best[0]["pair_count"])
        merges.append((step, a, b, a + b, pc))
        if step < n_merges or apply_last:
            seg = pin(_apply_merge(seg, a, b))
    return merges, seg
