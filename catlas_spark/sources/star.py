"""The driver-generated star schema (TESTDATA.md): one parquet file per
table under a scale-factor directory, ``{sf_dir}/{name}.parquet``.

Analog of the reference's sources (SURVEY.md §2.1: S1 JSON bulk scan,
S2 pickle adsorbate scan — `catlas/load_bulk_structures.py:19-40`,
`catlas/load_adsorbate_structures.py:10-39`) re-expressed as lazy
columnar parquet scans (``queries._t``): Catalyst pushes filters and
prunes columns into the scan for free, which the reference's eager
driver-side loads cannot.
"""

STAR_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
