"""Driver testdata table names (TESTDATA.md / FIXTURES.md §3).

The star schema is not declared here: ``plans/etl.py`` builds its tables
(surrogate keys are deterministic xxhash64 hashes of the natural keys
instead of the reference's IDENTITY columns — identity sequences don't
distribute; a stable hash does, SURVEY.md §1.2), and xq41
(``queries/quality_ops.py``) audits the written star against the
reference DDL (schema_star.sql) at run time.
"""

TESTDATA_TABLES = [
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
]
