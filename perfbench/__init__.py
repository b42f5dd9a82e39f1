"""Closed-loop benchmark of the engine's public entry points; run it
with ``python3 perfbench/run.py`` (see README.md)."""
