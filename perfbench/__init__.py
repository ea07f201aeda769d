"""Seeded three-workload benchmark for s2geometry_spark (see README.md)."""
