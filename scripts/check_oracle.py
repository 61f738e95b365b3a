"""Local replica of the driver's correctness gate.

For every query in catlas_spark.queries: run the Spark DataFrame and the
DuckDB oracle SQL side-by-side at a given sf dir, then compare
row-count + column names + order-insensitive values (columns sorted by
name, rows sorted, exact match; floats compared to 1e-9 after both
sides' own rounding).

Usage: python scripts/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from catlas_spark import queries as Q  # noqa: E402
from catlas_spark.session import get_spark  # noqa: E402
from catlas_spark.sources.star import STAR_TABLES  # noqa: E402


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            try:
                df[c] = df[c].dt.tz_localize(None)
            except TypeError:
                df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = df[c].astype(str)
        elif df[c].dtype == object:
            df[c] = df[c].apply(lambda v: tuple(v) if isinstance(v, (list, tuple)) else v)
    # sort by ROUNDED float keys: each side is sorted independently, so a
    # sub-tolerance key difference (0.3 vs 0.3+ulp) would order tied rows
    # differently on the two sides and misalign the row-wise compare
    keys = df.copy()
    for c in keys.columns:
        if pd.api.types.is_float_dtype(keys[c]):
            keys[c] = keys[c].round(9)
    order = keys.sort_values(by=list(keys.columns)).index
    return df.loc[order].reset_index(drop=True)


def compare(a: pd.DataFrame, b: pd.DataFrame) -> str | None:
    if len(a) != len(b):
        return f"row count {len(a)} vs {len(b)}"
    if sorted(a.columns) != sorted(b.columns):
        return f"columns {sorted(a.columns)} vs {sorted(b.columns)}"
    for c in a.columns:
        da, db = str(a[c].dtype), str(b[c].dtype)
        if da != db:
            # a value-hash can distinguish 3 from 3.0 — dtypes must align
            return f"dtype {c}: {da} vs {db}"
    a, b = normalize(a), normalize(b)
    for c in a.columns:
        av, bv = a[c].tolist(), b[c].tolist()
        for i, (x, y) in enumerate(zip(av, bv)):
            if x is None and y is None:
                continue
            xnan = isinstance(x, float) and math.isnan(x)
            ynan = isinstance(y, float) and math.isnan(y)
            if (x is None and ynan) or (y is None and xnan) or (xnan and ynan):
                continue
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None:
                    return f"col {c} row {i}: {x!r} vs {y!r}"
                if abs(x - y) > 1e-9:
                    return f"col {c} row {i}: {x!r} vs {y!r}"
                if x != y:
                    # bit-level difference below tolerance: warn (driver may hash raw)
                    return f"col {c} row {i}: ULP diff {x!r} vs {y!r}"
            elif x != y:
                return f"col {c} row {i}: {x!r} vs {y!r}"
    return None


def main() -> int:
    argv = list(sys.argv[1:])
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        if i + 1 >= len(argv):
            raise SystemExit("--json needs a path")
        json_out = argv[i + 1]
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    spark = get_spark("oracle_check")
    con = duckdb.connect()
    for t in STAR_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs, oracles = Q.queries(), Q.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        # a misspelled name must not read as a passing (0-comparison) gate
        print(f"FAIL  unknown query names: {sorted(unknown)}")
        return 2
    n_pass = n_fail = n_weak = 0
    results: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            err = f"spark error {type(e).__name__}: {str(e)[:200]}"
            print(f"FAIL  {name}: {err}")
            results[name] = {"status": "fail", "rows": None, "err": err}
            n_fail += 1
            continue
        if name not in oracles:
            print(f"WEAK  {name}: no oracle (rows={len(sdf)})")
            results[name] = {"status": "weak", "rows": len(sdf), "err": None}
            n_weak += 1
            continue
        try:
            ddf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            err = f"duckdb error {type(e).__name__}: {str(e)[:200]}"
            print(f"FAIL  {name}: {err}")
            results[name] = {"status": "fail", "rows": len(sdf), "err": err}
            n_fail += 1
            continue
        err = compare(sdf, ddf)
        if err:
            print(f"FAIL  {name}: {err}")
            results[name] = {"status": "fail", "rows": len(sdf), "err": err}
            n_fail += 1
        else:
            print(f"PASS  {name} (rows={len(sdf)})")
            results[name] = {"status": "pass", "rows": len(sdf), "err": None}
            n_pass += 1
    # Cache-HIT-path spot check (r11 verdict item 6): the loop above
    # always exercises the plan-cache MISS path (first sighting per
    # process); the bench's warm passes run the HIT path. Re-invoke one
    # lazy query a second time — the cached plan — and compare that
    # result to the oracle too, so a hit-path divergence can never ship
    # silently.
    hit_name = "pricing_summary"
    if (not only or hit_name in only) and hit_name in oracles:
        try:
            sdf2 = qs[hit_name](spark, sf_dir).toPandas()
            ddf2 = con.execute(oracles[hit_name]).fetchdf()
            err2 = compare(sdf2, ddf2)
        except Exception as e:
            err2 = f"{type(e).__name__}: {str(e)[:200]}"
        if err2:
            print(f"FAIL  {hit_name} [cache-hit path]: {err2}")
            n_fail += 1
            results[f"{hit_name}@hit"] = {"status": "fail", "rows": None, "err": err2}
        else:
            print(f"PASS  {hit_name} [cache-hit path]")
            results[f"{hit_name}@hit"] = {
                "status": "pass",
                "rows": len(sdf2),
                "err": None,
            }

    print(f"\n{n_pass} pass, {n_fail} fail, {n_weak} weak")
    if json_out:
        import json

        with open(json_out, "w") as f:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "n_pass": n_pass,
                    "n_fail": n_fail,
                    "n_weak": n_weak,
                    "queries": results,
                },
                f,
                indent=1,
                sort_keys=True,
            )
            f.write("\n")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
