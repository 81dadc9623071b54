"""xero_api_etl_utilities_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the query and data-processing
capabilities of the reference ETL pipeline (leegough/xero-api-etl-utilities,
studied read-only at /root/reference) as idiomatic Spark DataFrame/SQL
operators, designed for 100 TB scale: declarative plans for Catalyst,
broadcast dimension joins, partitioned facts, AQE, and Arrow-batched
Pandas UDFs only where built-ins cannot express the semantics.

Layout
------
- ``session``    : tuned SparkSession builder
- ``sources``    : parquet star schema, Excel workbook grids (xlsx + BIFF),
                   the REST sink, parquet sinks and compaction
- ``functions``  : scalar column-expression pack (SURVEY.md §2.8 F1–F24)
- ``operators``  : reconciliation join, marker segmentation, quality gates,
                   dedup, similarity search, text analysis, event windows
- ``plans``      : full query catalog (SURVEY.md §2) over the test star
                   schema, and the EP1 daily import (``plans/pipeline``)

Every job is a batch run; there is no Structured Streaming surface.
"""

__version__ = "0.1.0"
