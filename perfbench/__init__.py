"""Benchmark for uckg_spark: workloads, tracing and output checks."""
