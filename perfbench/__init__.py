"""Benchmark of the engine's public functions; see ``run.py`` and README.md."""
