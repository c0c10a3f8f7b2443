"""Seeded, oracle-checked benchmark of the scholarmind_spark engine (see run.py)."""
