"""PySpark-native analytics engine with the query & data-processing
capabilities of databotella/IDA-DataEngineerProject (reference read-only at
/root/reference/), re-expressed Spark-first.

The reference is a batch ETL + PostgreSQL star-schema data mart
(etl/etl_ida.py, schema_star.sql).  Here every dataflow operation is a
declarative DataFrame plan optimized by Catalyst:

- ``sources``    : parquet table readers, resource-manifest handling, wide-sheet
                   conversion (reference etl/etl_ida.py:171-274).
- ``operators``  : reshaping (ffill/unpivot/pivot), cleaning, dedup (exact,
                   MinHash-LSH, SimHash), similarity search, sessionization,
                   upsert/anti-join, top-k.
- ``functions``  : scalar column functions (hashing, locale numeric parse,
                   calendar, text stats, vector math).
- ``plans``      : end-to-end query pipelines (vw_taxa_variacao flagship,
                   TPC-H-style analytics, full ETL ingest).
- ``multimodal`` : binary-column (image/audio) plumbing over mapInPandas.
"""

__version__ = "0.1.0"
