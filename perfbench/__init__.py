"""Benchmark for the engine: catalog queries and the EP1 daily import."""
