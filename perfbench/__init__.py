"""Benchmark of storm_data_etl_spark: see run.py."""
