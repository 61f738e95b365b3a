"""Every registered query must match its DuckDB oracle at sf0.001.

This mirrors the driver's t2 correctness gate (which runs at sf0.01);
running at sf0.001 keeps the suite fast while exercising identical code.
"""

from __future__ import annotations

import duckdb
import pytest

from catlas_spark import queries as Q
from catlas_spark.sources.star import STAR_TABLES
from scripts.check_oracle import compare


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb.connect()
    for t in STAR_TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return c


@pytest.mark.parametrize("name", sorted(Q.queries()))
def test_query_matches_oracle(name, spark, sf_dir, con):
    fn = Q.queries()[name]
    sdf = fn(spark, sf_dir).toPandas()
    oracle = Q.oracle_sql().get(name)
    if oracle is None:
        # r8 tautology hunt: len >= 0 is true of every frame. An
        # unpaired query must be a DELIBERATE decision — fail loudly so
        # relaxing the pairing contract can't silently demote the gate
        # to a smoke test (genuinely non-SQL ops go in this allowlist
        # with a reason).
        NON_SQL_ALLOWLIST: dict[str, str] = {}
        assert name in NON_SQL_ALLOWLIST, (
            f"{name} has no oracle SQL — pair it, or allowlist it here "
            "with a written reason"
        )
        assert sdf.columns  # the weak check for allowlisted ops
        return
    ddf = con.execute(oracle).fetchdf()
    err = compare(sdf, ddf)
    assert err is None, f"{name}: {err}"
