"""Benchmark for the engine: seeded batch and stream workloads, end-to-end
metrics from an untraced run and per-layer metrics from a traced one.
Entry point: ``perfbench/run.py``."""
