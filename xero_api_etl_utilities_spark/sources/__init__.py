"""Source connectors and sinks: parquet star schema, Excel workbook
grids (xlsx + BIFF), the REST sink, and parquet writers with small-file
compaction."""

from xero_api_etl_utilities_spark.sources.parquet import TABLES, load_table

__all__ = ["TABLES", "load_table"]
