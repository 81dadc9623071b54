"""Source connectors and sinks: parquet star schema, Excel workbook
grids (xlsx + BIFF), the REST source/sink, and parquet/JSON writers
with small-file compaction."""

from xero_api_etl_utilities_spark.sources.parquet import TABLES, load_table, load_tables

__all__ = ["TABLES", "load_table", "load_tables"]
