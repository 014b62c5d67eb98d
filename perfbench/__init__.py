"""flumeline benchmark harness (see run.py)."""
