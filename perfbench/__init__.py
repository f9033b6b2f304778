"""End-to-end benchmark of the package; run ``python3 perfbench/run.py``."""
