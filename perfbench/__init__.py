"""Benchmark for the engine: see ``run.py`` for the command line and
``BENCHMARK.json`` at the repository root for the workloads and metrics."""
