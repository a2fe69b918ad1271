"""Linkage benchmark package (see run.py)."""
