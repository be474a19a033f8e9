"""Benchmark for the engine: ETL cycle, sink commit log and query mix."""
