"""Seeded, closed-loop benchmark of the lakehouse engine (``python3 perfbench/run.py``)."""
