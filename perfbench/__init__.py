"""Standalone benchmark for the workhop2_etl_spark engine (see README.md)."""
