"""Seeded, per-workload benchmark of the ETL engine (see README.md)."""
