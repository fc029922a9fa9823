"""linkgraph benchmark (see run.py)."""
