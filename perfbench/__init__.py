"""Seeded closed-loop benchmark of the qdrant_spark package (see README.md)."""
