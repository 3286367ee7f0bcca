"""Closed-loop end-to-end and per-layer benchmark (see run.py)."""
