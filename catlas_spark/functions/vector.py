"""Vector column functions over ``array<float>`` embedding columns.

Pure Column expressions (``F.aggregate`` / ``F.zip_with`` run JVM-side):
no Python in the hot path of a 100 TB embedding sweep. The higher-order
folds (``ArrayAggregate``, ``ZipWith``, ``ArrayTransform``) are
``CodegenFallback`` on Spark 4.1, so whole-stage codegen interprets them
rather than compiling them; an unrolled 64-term dot measured no faster at
sf0.01. Summation order is the array order on both Spark and DuckDB,
which keeps dot products bit-comparable for the oracle gate.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(col: Column) -> Column:
    return col.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(as_double(a), as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(as_double(a), F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine(a: Column, b: Column) -> Column:
    # try_divide: a zero-norm vector yields NULL similarity (skipped by
    # every threshold/rank consumer) — plain `/` is a DIVIDE_BY_ZERO
    # JOB-KILLER under Spark 4's ANSI default, and the DuckDB oracles'
    # x/0 is NULL (r8 review, reproduced live)
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def band_sign_bucket(a: Column, band: int, band_bits: int = 4) -> Column:
    """Sign bucket of ONE LSH band: the signs of components
    ``[band*band_bits+1 .. band*band_bits+band_bits]`` packed into an
    int. With several bands, two vectors become candidates if they agree
    on ANY band — the banding trick that trades a per-band 2^-bits
    selectivity for multi-band recall, exactly like minhash LSH bands
    but over hyperplane signs."""
    # try_element_at: an index past a SHORT/ragged vector's end is NULL
    # (falls to the otherwise-0 negative-sign treatment) where ANSI
    # element_at raises and kills the job (r8 review, reproduced live)
    bits = [
        F.when(
            F.try_element_at(as_double(a), F.lit(band * band_bits + i + 1)) >= 0,
            F.lit(1 << i),
        ).otherwise(F.lit(0))
        for i in range(band_bits)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def sign_bucket(a: Column, n_bits: int = 3) -> Column:
    """Random-hyperplane-style coarse LSH bucket from the signs of the
    first ``n_bits`` components (deterministic; the scale path partitions
    candidate generation so ANN never does a full cross join).

    Exactly band 0 of :func:`band_sign_bucket` — delegated (r8 review)
    so a future change to the sign/NULL disposition cannot desynchronize
    similarity.py's ANN bucketing from dedup.py's LSH bands."""
    return band_sign_bucket(a, 0, n_bits)


def jl_project(a: Column, out_dim: int, seed: int = 17) -> list[Column]:
    """Johnson-Lindenstrauss random projection with a Rademacher (+-1)
    sign matrix derived from a multiplicative hash of (input index,
    output index) — no materialized projection matrix, so the operator
    ships as pure JVM expressions and the oracle can replay the
    exact signs in SQL. Achlioptas (2003) shows +-1 entries satisfy the
    JL lemma; scaling by 1/sqrt(out_dim) preserves expected norms.

    Returns one Column per output dimension, each snapped to the 1e-4
    grid (the cross-engine determinism convention for unordered float
    reductions is not needed here — the fold is in array order — but
    the snap keeps downstream consumers hashable)."""
    v = as_double(a)
    cols = []
    # sign(i, j) = parity of ((i+1)*(j+seed)*2654435761 mod 2038074743):
    # the multiplicative mix through a large prime is needed — additive
    # forms like (i*A + j*B) % 2 collapse to parity(i) xor parity(j)
    # (any odd A, B), making every output dim the SAME alternating sum.
    # Measured: max inter-column sign correlation 0.25, median pairwise
    # distance ratio 0.96 on gaussian data (vs 0.57 for the additive form).
    for j in range(out_dim):
        # transform's second lambda arg binds the 0-based element index
        signed = F.transform(
            v,
            lambda x, i: x
            * (
                (((i + 1) * F.lit((j + seed) * 2654435761)) % 2038074743 % 2) * 2 - 1
            ).cast("double"),
        )
        s = F.aggregate(signed, F.lit(0.0), lambda acc, x: acc + x) / F.lit(
            float(out_dim) ** 0.5
        )
        cols.append(F.floor(s * 10000 + F.lit(0.5)) / 10000)
    return cols
