"""Serving benchmark for the elasticsearch_spark engine (see README.md)."""
