"""Generate the registry/test counts quoted in README.md and
NOTES_BUILDER.md — never hand-write them (they drifted twice; VERDICT r3
item 8).

    python scripts/counts.py          # print the real counts
    python scripts/counts.py --write  # patch the docs in place

The patcher replaces count-shaped phrases by regex, so the docs stay
ordinary prose (no template markers to keep intact).
"""

from __future__ import annotations

import re
import subprocess
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def real_counts() -> dict[str, int]:
    from catlas_spark import queries as Q

    n_queries = len(Q.queries())
    n_oracle = len(Q.oracle_sql())
    out = subprocess.run(
        [sys.executable, "-m", "pytest", "tests/", "--collect-only", "-q"],
        capture_output=True,
        text=True,
        cwd=REPO,
    )
    m = re.search(r"(\d+) tests collected", out.stdout)
    n_tests = int(m.group(1)) if m else -1
    return {"queries": n_queries, "oracle_paired": n_oracle, "tests": n_tests}


_PATCHES = [
    # (file, pattern, replacement-template)
    (
        "README.md",
        r"\| (\d+) named queries, all (\d+) paired",
        "| {queries} named queries, all {oracle_paired} paired",
    ),
    (
        "README.md",
        r"# \d+/\d+ strong PASS",
        "# {oracle_paired}/{queries} strong PASS",
    ),
    ("README.md", r"# \d+ tests", "# {tests} tests"),
    (
        "README.md",
        r"All \d+ queries are oracle-paired",
        "All {queries} queries are oracle-paired",
    ),
    (
        "NOTES_BUILDER.md",
        r"\d+ `queries\(\)` entries",
        "{queries} `queries()` entries",
    ),
    ("NOTES_BUILDER.md", r"\d+ pytest tests", "{tests} pytest tests"),
]


def patch(counts: dict[str, int]) -> None:
    for fname in {f for f, _, _ in _PATCHES}:
        path = os.path.join(REPO, fname)
        with open(path) as fh:
            text = fh.read()
        for f, pat, repl in _PATCHES:
            if f == fname:
                text = re.sub(pat, repl.format(**counts), text)
        with open(path, "w") as fh:
            fh.write(text)
        print(f"patched {fname}")


if __name__ == "__main__":
    c = real_counts()
    print(c)
    if "--write" in sys.argv:
        if c["tests"] < 0:
            sys.exit("pytest collection failed; not patching")
        patch(c)
