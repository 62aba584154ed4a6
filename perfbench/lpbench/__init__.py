"""Benchmark harness for ``logprocessor_spark``: workloads, correctness
gate, traced per-layer profile and host stamp. ``perfbench/run.py`` is the
command-line entry point."""
