"""Dump FULL `.explain("formatted")` output for a list of queries into
per-query text files — the per-round optimization evidence
(`plans/r<N>/<query>_{before,after}.txt`).

Usage:
    python scripts/dump_round_plans.py OUTDIR SUFFIX QUERY [QUERY ...]

e.g. run at HEAD:
    python scripts/dump_round_plans.py plans/r11 after dedup_containment ...
and in a worktree checked out at the previous round's commit:
    python scripts/dump_round_plans.py plans/r11 before ...

Unlike dump_plans.py (PLANS.md excerpts, tree only), this keeps the
numbered-operator detail section so PushedFilters / ReadSchema / join
build sides are inspectable.  Plans are built under lazy_plans, so each
is explained under the session the registry built it on; the file's
header names that session's AQE and shuffle-width confs, read back from
the dumped frame itself.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from catlas_spark import queries as Q  # noqa: E402
from catlas_spark.session import get_spark  # noqa: E402


def _explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    if len(sys.argv) < 4:
        raise SystemExit(__doc__)
    outdir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark("round-plans")
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    from catlas_spark.caching import lazy_plans

    qs = Q.queries()
    for name in names:
        if name not in qs:
            out = f"(query `{name}` does not exist at this commit)\n"
            path = os.path.join(outdir, f"{name}_{suffix}.txt")
            with open(path, "w") as f:
                f.write(out)
            print(f"wrote {path} (absent)", file=sys.stderr)
            continue
        with lazy_plans():
            df = qs[name](spark, sf)
        conf = df.sparkSession.conf
        header = (
            f"# {name} — {suffix} ({os.path.basename(sf)}, "
            "explain('formatted'); execution profile: "
            + ", ".join(
                f"{k}={conf.get(k)}"
                for k in ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
            )
            + ")\n\n"
        )
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(header + _explain(df))
        print(f"wrote {path}", file=sys.stderr)


if __name__ == "__main__":
    main()
