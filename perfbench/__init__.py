"""Seeded, oracle-checked benchmark (see run.py)."""
