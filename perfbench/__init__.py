"""Streaming ETL benchmark: see README.md."""
