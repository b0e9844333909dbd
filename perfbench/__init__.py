"""Standalone benchmark harness for the geos_spark engine (see README.md)."""
