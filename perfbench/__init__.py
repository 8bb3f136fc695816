"""The repository's benchmark; the entry point is ``perfbench/run.py``."""
