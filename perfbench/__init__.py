"""The repository benchmark. Entry point: ``python3 perfbench/run.py``."""
